"""Data selection via importance resampling (DSIR — Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling"): score
every raw-corpus document by how much more likely its hashed n-gram
features are under a TARGET distribution (a quality seed corpus —
wiki/books) than under the RAW distribution, then resample the corpus
by those weights. The standard pretraining data-selection primitive
alongside the quality screens (corpus.py), dedup families (dedup.py),
and retrieval statistics (retrieval.py — whose docstring names DSIR as
a motivating consumer of exactly these term statistics).

Everything is DataFrame-native and scale-shaped like the retrieval /
decontamination families:

- feature extraction: unigram+bigram explode, map-side, one per-doc
  partial-agg shuffle (the postings shape);
- the two feature DISTRIBUTIONS are tiny aggregates (≤ num_buckets
  rows — 10k by default) built with one short-key shuffle each and
  BROADCAST into the scoring join (the eval-gram-set discipline:
  model frames are MBs, the corpus is TBs);
- per-doc log-weights: one broadcast join + per-doc sum — no
  corpus-wide shuffle beyond the per-doc aggregation;
- resampling: seeded hash-Gumbel top-k (Gumbel-max trick over a
  deterministic per-doc uniform, the ``stratified_sample``
  reproducibility discipline — stable under retries, re-runs, and
  partitioning, where rand()-based sampling is none of those).

Two feature spaces:

- ``num_buckets=None`` — features are the raw gram strings (exact;
  SQL-expressible, so a driver oracle can reproduce every weight);
- ``num_buckets=K`` — grams hash into K buckets (xxhash64 mod K,
  DSIR's hashed bag: model size fixed at K regardless of vocabulary —
  the 100 TB form). Equivalence with the exact space on
  collision-free vocabularies is pytest-pinned.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..pin import pin
from .dedup import shingles
from .lm import DEFAULT_ALPHA as LM_DEFAULT_ALPHA
from .lm import DEFAULT_LAMBDA as LM_DEFAULT_LAMBDA

# Smoothing for unseen features (add-lambda over the bucket space) —
# DSIR's hashed model needs mass on buckets absent from one corpus.
DEFAULT_SMOOTH = 1e-4


def _gram_array(text: "F.Column", ns: tuple[int, ...]) -> "F.Column":
    """The union-of-``ns``-gram-orders array for one text column — the
    ONE gram definition `_gram_features` and `kl_divergence_profile`
    share. An empty document splits to [''] — one empty-string token,
    which would give token-less docs a shared phantom feature (and
    every model a '' row); a doc with no tokens has NO features."""
    grams = (
        F.concat(*[shingles(text, n) for n in ns])
        if len(ns) > 1
        else shingles(text, ns[0])
    )
    return F.filter(grams, lambda g: g != "")


def _gram_features(
    docs: DataFrame,
    num_buckets: int | None,
    ns: tuple[int, ...],
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(id, feature, cnt) — gram-occurrence counts per document over
    the union of ``ns``-gram orders (DSIR uses unigrams+bigrams).
    Feature is the gram string (``num_buckets=None``) or its
    xxhash64-mod-K bucket rendered as a string (one feature column
    type either way, so the model frames are interchangeable). One
    explode + one (doc, feature) partial-agg shuffle."""
    g = docs.select(
        F.col(id_col).alias("id"),
        F.explode(_gram_array(F.col(text_col), ns)).alias("__g"),
    )
    if num_buckets is None:
        feat = F.col("__g")
    else:
        feat = (F.pmod(F.xxhash64(F.col("__g")), F.lit(num_buckets))).cast("string")
    return g.select("id", feat.alias("feature")).groupBy("id", "feature").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def feature_log_probs(
    docs: DataFrame,
    num_buckets: int | None = 10_000,
    ns: tuple[int, ...] = (1, 2),
    smooth: float = DEFAULT_SMOOTH,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(feature, logp) — the corpus's smoothed feature distribution:
    logp = log((count + smooth) / (total + smooth·space)), where space
    is ``num_buckets`` (hashed) or the corpus's observed distinct-gram
    count (exact; mirrored by an oracle as count(DISTINCT gram)).
    ≤ space rows — a broadcastable model frame, built with one
    short-key shuffle. Unseen features take the implied floor
    log(smooth / (total + smooth·space)) at scoring time, so the model
    frame needs no explicit zero rows."""
    feats = _gram_features(docs, num_buckets, ns, id_col, text_col)
    return _model_from_features(feats, num_buckets, smooth)


def _model_from_features(
    feats: DataFrame, num_buckets: int | None, smooth: float
) -> DataFrame:
    """The model-fitting half of ``feature_log_probs``, over an
    already-built (id, feature, cnt) frame — so a caller that needs
    BOTH a corpus's model and its per-doc features (``dsir_select``)
    pays the corpus explode once."""
    counts = feats.groupBy("feature").agg(F.sum("cnt").alias("__c"))
    if num_buckets is None:
        space = counts.agg(
            F.count(F.lit(1)).cast("double").alias("__space"),
            F.sum("__c").cast("double").alias("__total"),
        )
    else:
        space = counts.agg(
            F.lit(float(num_buckets)).alias("__space"),
            F.sum("__c").cast("double").alias("__total"),
        )
    return counts.crossJoin(F.broadcast(space)).select(
        "feature",
        F.log(
            (F.col("__c") + F.lit(smooth))
            / (F.col("__total") + F.lit(smooth) * F.col("__space"))
        ).alias("logp"),
        F.log(
            F.lit(smooth) / (F.col("__total") + F.lit(smooth) * F.col("__space"))
        ).alias("__floor"),
    )


def _floor_guarded(model: DataFrame, alias: str, which: str) -> DataFrame:
    """1-row frame holding a model's smoothing floor, with the empty-
    model case failing LOUD in-plan (a feature-less model has a NULL
    floor, which would otherwise silently NULL every downstream score
    — the shared guard for the weights and cross-entropy kernels)."""
    guard = F.raise_error(
        F.lit(
            f"the {which} model is empty (no features — e.g. every "
            "document tokenized to nothing); fit models on non-empty "
            "corpora"
        )
    ).cast("double")
    return model.agg(F.coalesce(F.first("__floor"), guard).alias(alias))


def importance_log_weights(
    docs: DataFrame,
    target_model: DataFrame,
    raw_model: DataFrame,
    num_buckets: int | None = 10_000,
    ns: tuple[int, ...] = (1, 2),
    id_col: str = "doc_id",
    text_col: str = "text",
    _feats: DataFrame | None = None,
) -> DataFrame:
    """(id, n_grams, log_weight) per document: log_weight =
    Σ_features cnt · (logp_target − logp_raw), the DSIR importance
    log-ratio under the two ``feature_log_probs`` models. Features
    absent from a model score at that model's smoothing floor (left
    joins + coalesce — no explicit zero rows shipped).

    Plan: the corpus side is ONE explode + per-doc partial agg; both
    model frames broadcast (≤ num_buckets rows); the weight is a
    per-doc sum. Nothing corpus-wide shuffles except the (doc,
    feature) aggregation — the postings-build shape, linear at any
    corpus size. ``_feats`` lets ``dsir_select`` pass the corpus's
    already-pinned feature frame so the explode is not paid twice."""
    feats = (
        _feats
        if _feats is not None
        else _gram_features(docs, num_buckets, ns, id_col, text_col)
    )
    tgt = target_model.select("feature", F.col("logp").alias("__lt"))
    raw = raw_model.select("feature", F.col("logp").alias("__lr"))
    # model floors are per-model scalars; features unmatched by a left
    # join must fall back to them, so they ride as 1-row broadcast
    # frames (a floor column on matched rows would be NULL exactly
    # when it's needed). An EMPTY model (feature-less corpus — e.g.
    # all-whitespace texts) has a NULL floor, which would silently
    # NULL every weight and turn selection into lowest-id-wins — the
    # coalesce chain ends in an in-plan raise_error instead (the
    # NULL-id guard's discipline, via ``_floor_guarded``).
    tfloor = _floor_guarded(target_model, "__ft0", "target")
    rfloor = _floor_guarded(raw_model, "__fr0", "raw")
    scored = (
        feats.join(F.broadcast(tgt), "feature", "left")
        .join(F.broadcast(raw), "feature", "left")
        .crossJoin(F.broadcast(tfloor))
        .crossJoin(F.broadcast(rfloor))
        .withColumn(
            "__w",
            F.col("cnt")
            * (
                F.coalesce(F.col("__lt"), F.col("__ft0"))
                - F.coalesce(F.col("__lr"), F.col("__fr0"))
            ),
        )
    )
    return scored.groupBy(F.col("id").alias(id_col)).agg(
        F.sum("cnt").cast("bigint").alias("n_grams"),
        F.sum("__w").alias("log_weight"),
    )


def _hash_uniform(c: Column, salt: int) -> Column:
    """Deterministic per-id uniform in (0, 1): avalanche hash of
    (id, salt) — independent draws need avalanche, not affine remixes
    (the mixing-family rule). Clamped away from {0, 1} so the Gumbel
    transform below is finite. A NULL id fails LOUD in-plan:
    ``xxhash64`` silently IGNORES a NULL input and returns the seed
    constant, which would hand every NULL-id doc the same draw (the
    shared-phantom-decision failure the curation guards exist for)."""
    checked = F.when(
        c.isNull(),
        F.raise_error(
            F.lit(
                "dsir_select: NULL document id — xxhash64 would give "
                "every NULL-id doc one shared Gumbel draw; assign ids "
                "upstream"
            )
        ).cast("long"),
    ).otherwise(c)
    u = (
        F.pmod(F.xxhash64(checked, F.lit(salt)), F.lit(1 << 32)).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 32))
    return u


def dsir_select(
    docs: DataFrame,
    target_docs: DataFrame,
    k: int,
    num_buckets: int | None = 10_000,
    ns: tuple[int, ...] = (1, 2),
    temperature: float = 1.0,
    seed: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Select ``k`` documents by Gumbel-max importance resampling
    (DSIR §2.3): key = log_weight / temperature + Gumbel(0,1) drawn
    from the deterministic per-id uniform (``_hash_uniform`` — stable
    under retries/partitioning), take the top ``k`` (id tie-break).
    A SMALL positive temperature (e.g. 1e-9) degenerates to
    deterministic top-k by weight; 1.0 is the paper's sampled
    selection; exactly 0 is rejected (IEEE division would turn keys
    into ±Inf/NaN, and Spark sorts NaN above everything — silently
    selecting zero-weight docs first). Returns (id, n_grams,
    log_weight, sample_key) for the selected docs.

    The corpus's (id, feature, cnt) frame is built ONCE and eagerly
    pinned — it feeds both the raw model and the scoring join, and
    Spark does not reuse subtrees (an unpinned frame would re-run the
    corpus explode + shuffle twice; the ``winnow_overlap_pairs``
    discipline). The rank is a single global top-k — Spark executes
    the row_number window with a partial per-partition top-k pushed
    before the single-partition sort (the same shape every
    ``_rank_topk`` consumer accepts for bounded k). For huge k,
    threshold on ``sample_key`` instead (one approx-quantile pass)."""
    if not temperature > 0.0:
        raise ValueError(
            f"dsir_select: temperature must be > 0 (got {temperature}) — "
            "use a small positive value (1e-9) for deterministic "
            "top-k-by-weight selection"
        )
    feats = pin(_gram_features(docs, num_buckets, ns, id_col, text_col))
    raw_model = _model_from_features(feats, num_buckets, DEFAULT_SMOOTH)
    target_model = feature_log_probs(
        target_docs, num_buckets, ns, id_col=id_col, text_col=text_col
    )
    w = importance_log_weights(
        docs, target_model, raw_model, num_buckets, ns, id_col, text_col,
        _feats=feats,
    )
    u = _hash_uniform(F.col(id_col), seed)
    gumbel = -F.log(-F.log(u))
    keyed = w.withColumn(
        "sample_key",
        F.col("log_weight") / F.lit(float(temperature)) + gumbel,
    )
    from pyspark.sql.window import Window

    win = Window.orderBy(F.col("sample_key").desc(), F.col(id_col).asc())
    return (
        keyed.withColumn("__rk", F.row_number().over(win))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def cross_entropy_score(
    docs: DataFrame,
    model: DataFrame,
    num_buckets: int | None = 10_000,
    ns: tuple[int, ...] = (1, 2),
    id_col: str = "doc_id",
    text_col: str = "text",
    _feats: DataFrame | None = None,
) -> DataFrame:
    """(id, n_grams, cross_entropy) — each document's mean negative
    log-likelihood under a ``feature_log_probs`` model (nats/gram):
    ce = −Σ_g c_g·logp(g) / Σ_g c_g, unseen grams at the model's
    smoothing floor. The CCNet-style quality signal (Wenzek et al.
    2020 §3.3 score documents by wiki-LM perplexity; this is the same
    statistic at hashed-n-gram granularity — exp(ce) IS a perplexity):
    LOW ce = target-like text, HIGH = far from the model corpus.
    Where DSIR's ``importance_log_weights`` needs target AND raw
    models (a likelihood RATIO), this needs only the target model —
    the two compose: ce for absolute quality banding
    (``with_quality_bucket``), the ratio for resampling.

    Same plan as the weights kernel: one explode + per-doc partial
    agg, the model broadcast. Feature-less docs have no row (the
    family contract). ``_feats`` hands in an already-built
    (id, feature, cnt) frame so a caller that also needs the batch's
    counts (the streaming novelty step) pays the explode once — the
    ``importance_log_weights`` convention; it MUST be the
    ``_gram_features`` of the same (docs, num_buckets, ns)."""
    feats = (
        _feats
        if _feats is not None
        else _gram_features(docs, num_buckets, ns, id_col, text_col)
    )
    m = model.select("feature", "logp")
    floor = _floor_guarded(model, "__f0", "cross-entropy")
    scored = (
        feats.join(F.broadcast(m), "feature", "left")
        .crossJoin(F.broadcast(floor))
        .withColumn(
            "__nll", -F.col("cnt") * F.coalesce(F.col("logp"), F.col("__f0"))
        )
    )
    return scored.groupBy(F.col("id").alias(id_col)).agg(
        F.sum("cnt").cast("bigint").alias("n_grams"),
        (F.sum("__nll") / F.sum("cnt")).alias("cross_entropy"),
    )


def with_quality_bucket(
    scored: DataFrame,
    head_bound: float,
    tail_bound: float,
    ce_col: str = "cross_entropy",
    out_col: str = "quality_bucket",
) -> DataFrame:
    """CCNet's head/middle/tail banding over a ``cross_entropy_score``
    frame: head (ce < head_bound — closest to the model corpus),
    middle, tail (ce >= tail_bound). Bounds are CALIBRATION-corpus
    quantiles computed batch-side once (e.g.
    ``scored.approxQuantile("cross_entropy", [1/3, 2/3], 1e-3)``) and
    passed as plain floats — a pure Column labeling, zero shuffle,
    reproducible across runs and engines (rank-based banding inside
    the operator would re-rank per corpus and shuffle globally)."""
    if not head_bound <= tail_bound:
        raise ValueError(
            f"with_quality_bucket: head_bound ({head_bound}) must be <= "
            f"tail_bound ({tail_bound})"
        )
    ce = F.col(ce_col)
    return scored.withColumn(
        out_col,
        # a NULL score fails loud rather than falling through the
        # otherwise() into a confident "tail" label (a left join that
        # missed score rows would silently band unscored docs)
        F.when(
            ce.isNull(),
            F.raise_error(
                F.lit(
                    f"with_quality_bucket: NULL {ce_col} — unscored "
                    "rows cannot be banded; score them or drop them "
                    "first"
                )
            ).cast("string"),
        )
        .when(ce < head_bound, "head")
        .when(ce < tail_bound, "middle")
        .otherwise("tail"),
    )


def source_centroid(
    emb_docs: DataFrame,
    target_source: str,
    source_col: str = "source",
    vec_col: str = "embedding",
) -> DataFrame:
    """1-row (centroid array<double>) — the element-wise MEAN of the
    target source's embedding vectors, the cheap domain prototype a
    mixture-weighting pass scores against (the embedding-space
    counterpart of DSIR's n-gram target model: both are "how
    target-like is this document", one lexical, one semantic). Built
    distributed: one posexplode + a 64-row (pos, mean) agg — no
    vector ever reaches the driver; the result broadcasts. An empty
    target source fails LOUD in-plan (an empty centroid would score
    every document NULL — the empty-model rule)."""
    from .similarity import _as_double

    per_dim = (
        emb_docs.filter(F.col(source_col) == target_source)
        .select(F.posexplode(_as_double(F.col(vec_col))).alias("pos", "x"))
        .groupBy("pos")
        # n = NON-NULL contributions at this position: one ragged
        # (longer) vector or a NULL element makes some position's n
        # differ, and a silent avg over fewer rows would skew the
        # centroid — or NULL a whole dimension — without a trace
        .agg(F.avg("x").alias("m"), F.count("x").alias("n"))
    )
    centroid = F.when(
        F.count(F.lit(1)) == 0,
        F.raise_error(
            F.lit(
                f"source_centroid: no vectors for target source "
                f"{target_source!r} — an empty centroid would "
                "score every document NULL"
            )
        ).cast("array<double>"),
    ).when(
        F.count_distinct(F.col("n")) > 1,
        F.raise_error(
            F.lit(
                f"source_centroid: target source {target_source!r} "
                "has ragged vector lengths or NULL elements — a "
                "mixed-dimension centroid would silently NULL every "
                "document's score (r10 review)"
            )
        ).cast("array<double>"),
    ).otherwise(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s["m"],
        )
    )
    return per_dim.agg(centroid.alias("centroid"))


def domain_relevance(
    emb_docs: DataFrame,
    target_source: str,
    id_col: str = "doc_id",
    source_col: str = "source",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, <source_col>, domain_rel) — every document's cosine to the
    ``target_source`` centroid (rounded 6dp, the cross-engine rule):
    the embedding-space domain-relevance signal for mixture
    up/down-weighting and target-domain selection. One broadcast of
    the 1-row centroid against a map-only corpus scan — nothing
    scales past the scan; compose with ``dsir_select``'s weights or
    ``with_quality_bucket`` bands for combined lexical+semantic
    selection."""
    from .similarity import _as_double, cosine

    cent = source_centroid(emb_docs, target_source, source_col, vec_col)
    return score_against_centroid(
        emb_docs, cent, id_col, source_col, vec_col, "domain_relevance"
    )


def score_against_centroid(
    emb_docs: DataFrame,
    centroid: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    vec_col: str = "embedding",
    op: str = "score_against_centroid",
) -> DataFrame:
    """The ONE scoring tail shared by ``domain_relevance`` and the
    streaming ``domain_relevance_step`` (a duplicated kernel drifts —
    this round's own review lesson, twice): broadcast the 1-row
    centroid, score each row's 6dp cosine, and fail LOUD in-plan on
    a corpus vector whose length disagrees with the centroid (the pq
    dimension-guard rule — zip_with would otherwise pad to a silent
    NULL score). NULL vectors pass through to NULL scores (the
    caller screens those, as everywhere)."""
    from .similarity import _as_double, cosine

    v = _as_double(F.col(vec_col))
    guarded = F.when(
        v.isNull() | (F.size(v) == F.size(F.col("centroid"))), v
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{op}: vector length != centroid dimension: got "),
                F.size(v).cast("string"),
            )
        ).cast("array<double>")
    )
    return emb_docs.crossJoin(F.broadcast(centroid)).select(
        F.col(id_col),
        F.col(source_col),
        F.round(cosine(guarded, F.col("centroid")), 6).alias("domain_rel"),
    )


def kl_divergence_profile(
    docs: DataFrame,
    group_col: str = "lang",
    ns: tuple[int, ...] = (1,),
    smooth: float = DEFAULT_SMOOTH,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_v: int | None = None,
    min_count: int = 1,
) -> DataFrame:
    """(group, n_grams, kl_to_corpus) — each stratum's smoothed
    KL divergence from the whole-corpus gram distribution, the
    distribution-shift monitor a curation pipeline runs per source /
    language / snapshot (which strata diverge from the mix — the
    upstream signal for mixture reweighting, and the drift alarm
    between corpus versions). KL(P_g ‖ P) = Σ_v p·ln(p/q) over the
    CORPUS vocabulary V, both sides smoothed over the same space:
    p = (c_g + s)/(T_g + s·|V|), q = (c + s)/(T + s·|V|) — the DSIR
    smoothing, so a gram absent from the stratum contributes its
    floor mass, never a silent skip (the zero-gram rows are
    GENERATED: distinct groups × the vocab frame — groups are few,
    the vocab Zipf-bounded, and without those rows the sum would
    understate every divergence).

    Plan: ONE corpus-scale exchange (the (group, gram) partial agg —
    corpus counts then derive from it), a groups×|V| generate-join,
    and a per-group sum — every later frame vocabulary-sized; the
    corpus enters once. NULL groups fail LOUD for any document that
    has grams (the guard rides the explode's input projection);
    entirely gram-less documents have no distribution to profile and
    contribute nothing (the family's feature-less contract).

    VOCABULARY BOUND: the generate-join is
    groups × |V| — fine for unigrams (Zipf-bounded), but ``ns``
    containing n>1 at web scale makes |V| explode. ``top_v`` keeps
    only the top_v most frequent CORPUS grams (count desc, gram asc —
    deterministic), ``min_count`` drops grams the corpus saw fewer
    times; either way the kept set becomes THE feature space — group
    and corpus totals, |V|, and the floor mass all re-derive from it,
    so the result is the exact profile over the truncated vocabulary
    (NOT an approximation of the full-vocab profile; the truncated
    space is the monitoring contract, like DSIR's hashed buckets).
    Truncation filters the vocabulary-sized frame, never re-touches
    the corpus; with both at their defaults the plan is unchanged.

    The (group, gram) frame is pinned with an eager checkpoint: a
    corpus-scale job at CALL time, held in executor storage until the
    result is garbage-collected."""
    checked_group = F.when(
        F.col(group_col).isNull(),
        F.raise_error(
            F.lit(
                f"kl_divergence_profile: NULL {group_col} — label "
                "strata upstream (a NULL group would pool every "
                "unlabeled doc into one phantom profile row)"
            )
        ).cast(docs.schema[group_col].dataType),
    ).otherwise(F.col(group_col))
    # DIRECT (group, gram) aggregation — no per-doc detour (a
    # per-(id, feature) agg + id join + distinct pays two corpus-scale
    # exchanges whose granularity nothing consumes). The guard rides the projection feeding the explode:
    # any NULL-group document WITH grams raises in-plan; an entirely
    # gram-less document has NO distribution to profile and emits
    # nothing (the family's feature-less contract), so an all-blank
    # corpus profiles empty rather than raising.
    g = docs.select(
        checked_group.alias("__grp"),
        F.explode(_gram_array(F.col(text_col), ns)).alias("feature"),
    )
    per_group = g.groupBy("__grp", "feature").agg(
        F.count(F.lit(1)).alias("__cg")
    )
    # PIN the (group, gram) frame: everything downstream — corpus
    # counts, the group list, totals, the generate-join — derives
    # from it, and Spark does not reuse subtrees, so unpinned each
    # consumer re-ran the corpus explode + agg (a plan audit measured
    # 8 corpus scans / 27 exchanges on the truncated path; 2 scans /
    # 10 exchanges after the pin). The frame is groups ×
    # vocabulary-sized — the docstring's "the corpus enters once"
    # claim is this pin.
    per_group = pin(per_group)
    # corpus counts DERIVE from the per-group frame — this second agg
    # works the (groups x vocab) table, not the corpus
    corpus = per_group.groupBy("feature").agg(F.sum("__cg").alias("__c"))
    if min_count > 1:
        corpus = corpus.filter(F.col("__c") >= min_count)
    if top_v is not None:
        # TakeOrdered over the vocabulary-sized frame: top_v rows is
        # the caller's own bound, so the single-partition tail is by
        # construction as small as the caller accepts
        corpus = corpus.orderBy(
            F.col("__c").desc(), F.col("feature").asc()
        ).limit(int(top_v))
    if min_count > 1 or top_v is not None:
        # the kept grams ARE the feature space now — group counts and
        # every total re-derive from the truncated set. The GROUP list
        # does not: a stratum whose every gram was truncated away must
        # still profile (Tg=0 → pure floor-mass distribution), never
        # silently vanish from a monitoring frame (the
        # generated-not-skipped rule, applied to whole strata).
        groups = per_group.select("__grp").distinct()
        per_group = per_group.join(
            corpus.select("feature"), "feature", "inner"
        )
    else:
        groups = None
    totals = corpus.agg(
        F.sum("__c").cast("double").alias("__T"),
        F.count(F.lit(1)).cast("double").alias("__V"),
    )
    g_totals = per_group.groupBy("__grp").agg(
        F.sum("__cg").cast("double").alias("__Tg")
    )
    if groups is not None:
        g_totals = groups.join(g_totals, "__grp", "left").select(
            "__grp", F.coalesce(F.col("__Tg"), F.lit(0.0)).alias("__Tg")
        )
    # generate the zero rows: every (group, vocab gram) pair
    full = (
        g_totals.crossJoin(corpus)
        .join(per_group, ["__grp", "feature"], "left")
        .crossJoin(F.broadcast(totals))
    )
    s_ = float(smooth)
    p = (F.coalesce(F.col("__cg"), F.lit(0)) + s_) / (
        F.col("__Tg") + s_ * F.col("__V")
    )
    q = (F.col("__c") + s_) / (F.col("__T") + s_ * F.col("__V"))
    prof = (
        full.withColumn("__term", p * F.log(p / q))
        .groupBy(F.col("__grp").alias(group_col))
        .agg(
            F.sum(F.coalesce(F.col("__cg"), F.lit(0)))
            .cast("bigint")
            .alias("n_grams"),
            F.round(F.sum("__term"), 6).alias("kl_to_corpus"),
        )
    )
    if groups is None:
        return prof
    # truncation that empties the vocabulary empties `full`, which
    # would silently drop EVERY stratum — the exact
    # empty-frame trap the loud NULL-group guard exists to prevent.
    # Re-anchor the output on the pre-truncation group list (lazy —
    # groups is vocabulary-sized lineage, no extra corpus pass) and
    # raise in-plan on the NULL rows an empty kept-vocab produces;
    # with a non-empty kept vocab every group has |V| generate-join
    # rows, so the guard never fires there.
    anchored = groups.select(F.col("__grp").alias(group_col)).join(
        prof, group_col, "left"
    )
    guard_msg = (
        "kl_divergence_profile: top_v/min_count truncation emptied "
        "the corpus vocabulary — nothing to profile; loosen the knobs"
    )
    return anchored.select(
        group_col,
        F.when(F.col("kl_to_corpus").isNotNull(), F.col("n_grams"))
        .otherwise(F.raise_error(F.lit(guard_msg)).cast("bigint"))
        .alias("n_grams"),
        F.when(F.col("kl_to_corpus").isNotNull(), F.col("kl_to_corpus"))
        .otherwise(F.raise_error(F.lit(guard_msg)).cast("double"))
        .alias("kl_to_corpus"),
    )


def domain_mixture_weights(
    docs: DataFrame,
    group_col: str = "lang",
    eta: float = 1.0,
    model: DataFrame | None = None,
    lam: float = LM_DEFAULT_LAMBDA,
    alpha: float = LM_DEFAULT_ALPHA,
    id_col: str = "doc_id",
    text_col: str = "text",
    scorer: str = "jm",
    discount: float | None = None,
) -> DataFrame:
    """(group, n_docs, n_transitions, share, ce, weight) — ONE
    Group-DRO reweighting step of DoReMi (Xie et al. 2023, "DoReMi:
    Optimizing Data Mixtures Speeds Up Language Model Pretraining"),
    batch analog: each domain's next-mixture weight is its baseline
    token share exponentially tilted by its EXCESS loss under a
    reference model,

        w_g ∝ share_g · exp(η · (ce_g − ce_corpus)),  Σ w_g = 1,

    where share_g = n_g / N is the domain's transition share (the
    current mixture), ce_g the domain's token-weighted conditional
    cross-entropy under the reference LM, and η the DRO step size.
    Domains the reference model finds HARD (high excess loss) get
    upweighted — DoReMi's core move; η=0 returns the baseline shares
    unchanged (pinned by test). The full DoReMi loop alternates
    proxy-model training with this step; a curation pipeline runs
    the one-step form per corpus snapshot to propose the next mix
    (the reweighting signal ``kl_divergence_profile`` monitors from
    the distribution side, this computes from the LOSS side).

    ``model`` defaults to the corpus's own ``bigram_lm_train`` frame
    (the self-scored convention of lm_perplexity / dsir_weights);
    pass a target-trained frame for the production shape (one the
    caller already pinned with ``pin`` is reused, not re-pinned).
    ``scorer="kn"`` switches the reference model's
    smoothing to interpolated Kneser-Ney (the KenLM form —
    ``discount`` applies there; cross-scorer knobs fail loud, the
    lm.py rule), so the excess-loss signal matches the production
    perplexity rows.

    Plan/scale shape: ONE corpus transition explode + broadcast-gated
    vocab-sized logp joins + ONE (group) partial agg (a handful of
    rows — strictly cheaper than per-doc scoring); every downstream
    frame (corpus totals, the softmax normalizer) derives from that
    domain-cardinality frame via 1-row broadcast crossJoins. No
    second corpus pass, no per-doc intermediate, no window over the
    corpus. NULL groups / NULL text fail loud (lm.py guards)."""
    from .lm import bigram_group_cross_entropy, bigram_lm_train

    eta_ = float(eta)
    if model is None:
        model = bigram_lm_train(docs.select(id_col, text_col))
    per = bigram_group_cross_entropy(
        docs,
        model,
        group_col=group_col,
        lam=lam,
        alpha=alpha,
        id_col=id_col,
        text_col=text_col,
        scorer=scorer,
        discount=discount,
    )
    return mixture_weights_from_stats(per, group_col=group_col, eta=eta_)


def mixture_weights_from_stats(
    per: DataFrame, group_col: str = "lang", eta: float = 1.0
) -> DataFrame:
    """The DRO-step tail over an already-computed per-domain frame
    (group, n_docs, n_transitions, ce) — shared by the batch operator
    above and the streaming ``domain_mixture_step`` (which rebuilds
    ``ce`` from its store's ADDITIVE sums before calling this), so
    the tilt/normalize arithmetic cannot drift between the twins.
    The frame is domain-cardinality-sized but its lineage may be the
    corpus-scale scoring plan, and THREE consumers read it (corpus
    totals, the raw-weight projection, the normalizer) — pinned here
    (the multi-consumer rule; same class as the kl_profile per_group
    pin)."""
    eta_ = float(eta)
    per = pin(per)
    tot = per.agg(
        F.sum("n_transitions").cast("double").alias("__N"),
        # corpus ce = token-weighted mean of the domain ces — derived
        # from the domain frame, NOT a second corpus pass; identical
        # operand order to the oracle (Σ (ce_g·n_g) / Σ n_g)
        (
            F.sum(F.col("ce") * F.col("n_transitions"))
            / F.sum("n_transitions")
        ).alias("__ce_all"),
    )
    raw = per.crossJoin(F.broadcast(tot)).select(
        group_col,
        "n_docs",
        "n_transitions",
        (F.col("n_transitions") / F.col("__N")).alias("share"),
        "ce",
        (
            (F.col("n_transitions") / F.col("__N"))
            * F.exp(eta_ * (F.col("ce") - F.col("__ce_all")))
        ).alias("__w_raw"),
    )
    norm = raw.agg(F.sum("__w_raw").alias("__Z"))
    return raw.crossJoin(F.broadcast(norm)).select(
        group_col,
        "n_docs",
        "n_transitions",
        F.round(F.col("share"), 6).alias("share"),
        F.round(F.col("ce"), 6).alias("ce"),
        F.round(F.col("__w_raw") / F.col("__Z"), 6).alias("weight"),
    )


def domain_mixture_trajectory(
    docs: DataFrame,
    group_col: str = "lang",
    eta: float = 1.0,
    steps: int = 6,
    model: DataFrame | None = None,
    lam: float = LM_DEFAULT_LAMBDA,
    alpha: float = LM_DEFAULT_ALPHA,
    id_col: str = "doc_id",
    text_col: str = "text",
    scorer: str = "jm",
    discount: float | None = None,
    max_groups: int = 100_000,
) -> DataFrame:
    """(step, group, ce_mix, weight) for step = 1..K — the BOUNDED
    Group-DRO fixed-point iteration the one-step
    ``domain_mixture_weights`` row only samples (the published DoReMi
    loop alternates proxy refits with this update; with the reference
    model and the per-domain losses FROZEN, iterating the update is
    the exponentiated-gradient dynamics on the mixture simplex):

        w_0        = share_g  (the baseline transition share),
        ce_mix_t   = Σ_g w_{t-1}(g) · ce_g   (the MIXTURE loss),
        w_t(g)     ∝ w_{t-1}(g) · exp(η · (ce_g − ce_mix_t)),  Σ = 1.

    Step 1 therefore coincides with ``domain_mixture_weights`` (there
    ce_corpus is the token-weighted mean, which at w_0 = share IS the
    mixture loss — pinned by test at the 6dp contract), and the
    trajectory drifts mass monotonically toward the hardest domains
    (the dynamics' closed form w_t ∝ share·exp(t·η·ce) — the
    convergence arithmetic this row pins under an oracle). ``ce_mix``
    is emitted per step (constant across the step's groups) so the
    oracle checks the INNER scalar, not just the normalized output.

    Plan/scale shape: the per-domain (ce, n) frame is the audited
    ``bigram_group_cross_entropy`` plan — ONE corpus transition
    explode + broadcast-gated vocab joins + one salted (group, salt64)
    partial agg. The iteration itself is pure domain-cardinality
    arithmetic with NO corpus re-pass, so it runs on the DRIVER over
    one bounded collect (the quality-classifier epoch-loop
    discipline: K tiny Spark jobs per step would buy nothing but
    scheduler overhead at any scale) — bounded by construction via
    the ``max_groups`` loud guard (domains are languages / sources /
    site buckets: thousands, never corpus-scale). Sums fold in
    sorted-group order, deterministically."""
    from .lm import bigram_group_cross_entropy, bigram_lm_train

    eta_ = float(eta)
    steps_ = int(steps)
    if steps_ < 1:
        raise ValueError(
            f"domain_mixture_trajectory: steps={steps} — the bounded "
            "fixed-point iteration needs at least one step (step 1 = "
            "the one-step domain_mixture_weights row)"
        )
    if model is None:
        model = bigram_lm_train(docs.select(id_col, text_col))
    per = bigram_group_cross_entropy(
        docs,
        model,
        group_col=group_col,
        lam=lam,
        alpha=alpha,
        id_col=id_col,
        text_col=text_col,
        scorer=scorer,
        discount=discount,
    )
    return mixture_trajectory_from_stats(
        per, group_col=group_col, eta=eta_, steps=steps_,
        max_groups=max_groups,
    )


def mixture_trajectory_from_stats(
    per: DataFrame,
    group_col: str = "lang",
    eta: float = 1.0,
    steps: int = 6,
    max_groups: int = 100_000,
    caller: str = "domain_mixture_trajectory",
) -> DataFrame:
    """The trajectory tail over an already-computed per-domain frame
    (group, n_docs, n_transitions, ce) — shared by the batch operator
    above and the streaming ``domain_mixture_trajectory_step`` (which
    rebuilds ``ce`` from its store's ADDITIVE sums first), the
    ``mixture_weights_from_stats`` twin discipline: the iteration
    arithmetic exists in ONE place. Bounded collect of the
    domain-cardinality frame (``max_groups`` loud guard), then pure
    driver arithmetic in sorted-group order."""
    import math

    eta_ = float(eta)
    steps_ = int(steps)
    if steps_ < 1:
        raise ValueError(
            f"{caller}: steps={steps} — the bounded "
            "fixed-point iteration needs at least one step (step 1 = "
            "the one-step domain_mixture_weights row)"
        )
    gtype = per.schema[group_col].dataType.simpleString()
    rows = per.limit(max_groups + 1).collect()
    if len(rows) > max_groups:
        # named by the CALLER: the streaming step's micro-batch
        # failure must point at the step's knob, not the batch
        # function the operator never called
        raise ValueError(
            f"{caller}: more than {max_groups} "
            f"distinct {group_col} values — this is a DOMAIN mixture "
            "(languages / sources / site buckets); a corpus-scale "
            "group column belongs in per-doc scoring, not a mixture "
            "trajectory (raise max_groups only if the domain space "
            "is genuinely that wide)"
        )
    rows = sorted(rows, key=lambda r: (r[group_col] is None, r[group_col]))
    n = {r[group_col]: float(r["n_transitions"]) for r in rows}
    ce = {r[group_col]: float(r["ce"]) for r in rows}
    groups = [r[group_col] for r in rows]
    N = math.fsum(n[g] for g in groups)  # exact: doubles holding ints
    w = {g: n[g] / N for g in groups}
    out = []
    for t in range(1, steps_ + 1):
        # ce_mix folds in sorted-group order while the DuckDB
        # oracle's sum(w * ce) folds in engine-chosen order; both
        # sides round to 6dp before the cross-engine hash, so only
        # an ulp landing EXACTLY on a 6dp boundary could flip the
        # hash — the same accepted risk class as the per-group ce
        # reductions, compounded by the K unrolled steps. Remedy if a boundary flip ever surfaces in
        # pre-flight: force the oracle's fold order too (list
        # aggregation in sorted group order), the lm-family ulp
        # discipline for operand order.
        ce_mix = sum(w[g] * ce[g] for g in groups)
        raw = {g: w[g] * math.exp(eta_ * (ce[g] - ce_mix)) for g in groups}
        z = sum(raw[g] for g in groups)
        w = {g: raw[g] / z for g in groups}
        out += [
            (t, g, round(ce_mix, 6), round(w[g], 6)) for g in groups
        ]
    return per.sparkSession.createDataFrame(
        out,
        f"step int, {group_col} {gtype}, ce_mix double, weight double",
    )
