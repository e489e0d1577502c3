"""End-to-end streaming corpus curation — one foreachBatch step
composing the per-operator streaming recipes the way a training-data
ingestion job chains them:

1. **Stateless screens** (map-only, per-row deterministic ⇒ batch ≡
   streaming trivially): Gopher quality keep rule, repetition screens
   (top-/dup-ngram + duplicate-line character fractions).
2. **PII redaction** (map-only): downstream stages see the REDACTED
   text — the order a real pipeline uses, since leaked PII must not
   reach dedup stores or shards.
3. **Decontamination** against a static broadcast eval-gram blocklist:
   any eval-set n-gram overlap drops the doc (GPT-3 appendix C
   policy, threshold configurable).
4. **Near-dedup** via the persisted MinHash signature store
   (``near_dedup.minhash_dedup_step``): cross-batch candidates against
   strictly-prior partitions, within-batch via the batch candidate
   join + min-id canonical, replay-idempotent.
5. **Shard write**: admitted docs land under ``ingest_batch=<id>``
   partitions — a replayed batch overwrites exactly its own output.

``corpus_curation_batch`` is the batch twin built from the SAME column
expressions and the batch dedup operators; the congruity test pins
streaming ≡ batch under id-ordered ingestion (the same policy argument
as ``near_dedup``: first-seen = min-id when ingestion is id-ordered
and the dup relation is transitive at the radius).

At 100 TB: stages 1-3 are one fused scan (a single projection — no
shuffle until the dedup store probe); stage 3's only shuffle is the
per-doc count of eval-gram HITS (tiny by construction); stage 4 is
banded equi-joins sized by collisions; stage 5 is a map-only write.
"""

from __future__ import annotations

import os as _os
from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.corpus import dup_line_metrics, gopher_keep, repetition_metrics
from ..functions.curation import (
    contamination_report,
    decontaminate_fuzzy,
    pii_redact,
)
from ..functions.dedup import dup_clusters, keep_canonical
from ..functions.dedup import minhash_candidate_pairs, verified_near_dups
from ..pin import pin
from .near_dedup import minhash_dedup_step
from .store import store_append, store_compact_every, store_read, store_read_batch

# repetition-screen ceilings (Gopher §A1.1 table A1 uses a family of
# per-n thresholds; one representative pair + the line screen here)
MAX_TOP_NGRAM_CHAR_FRAC = 0.20
MAX_DUP_NGRAM_CHAR_FRAC = 0.20
MAX_DUP_LINE_CHAR_FRAC = 0.30


def _screen_and_redact(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    line_strip: bool = False,
) -> DataFrame:
    """Stages 1-2: quality + repetition metrics in one projection
    (struct first, filter on fields second — CollapseProject will not
    re-inline the non-cheap metric structs, so each tokenization runs
    once per row), then PII redaction of the survivors. Returns
    (id, text) with text already redacted. ``line_strip=True``
    prepends the line-level boilerplate screen
    (``corpus.strip_boilerplate`` — the RefinedWeb order: line-wise
    edits BEFORE doc-wise screens, so quality metrics judge the text
    that will actually be trained on, not its navigation chrome);
    it fuses into the same map-only projection chain, zero extra
    shuffle. NULL-text contract: the standalone operator fails loud
    (a bare edit must never silently delete a row), but INSIDE this
    composed stage a NULL doc's fate is already defined — the doc
    screens drop it (gopher_keep(NULL) -> NULL -> filtered), the
    same screen-out it gets with ``line_strip=False`` — so NULL
    passes THROUGH the strip here to keep the two configs' NULL
    behavior identical; without the bypass, flipping line_strip on
    would turn a tolerated input into a micro-batch-killing
    raise_error."""
    if line_strip:
        from ..functions.corpus import strip_boilerplate

        docs = docs.withColumn(
            text_col,
            F.when(
                F.col(text_col).isNotNull(),
                strip_boilerplate(F.col(text_col))["text"],
            ),
        )
    t = F.col(text_col)
    enriched = docs.select(
        F.col(id_col),
        t,
        repetition_metrics(t).alias("__rep"),
        dup_line_metrics(t).alias("__dl"),
    )
    screened = enriched.filter(
        gopher_keep(t)
        & (F.col("__rep.top_ngram_char_frac") <= MAX_TOP_NGRAM_CHAR_FRAC)
        & (F.col("__rep.dup_ngram_char_frac") <= MAX_DUP_NGRAM_CHAR_FRAC)
        & (F.col("__dl.frac") <= MAX_DUP_LINE_CHAR_FRAC)
    )
    return pii_redact(screened, id_col=id_col, text_col=text_col).select(
        F.col(id_col), F.col("text_clean").alias(text_col)
    )


def _decontaminate(
    docs: DataFrame,
    eval_grams: DataFrame | None,
    n: int,
    max_hits: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    if eval_grams is None:
        return docs
    hot = contamination_report(
        docs, eval_grams, n=n, id_col=id_col, text_col=text_col
    ).filter(F.col("n_hits") > max_hits)
    return docs.join(hot.select(id_col), id_col, "left_anti")


def _decontaminate_fuzzy(
    docs: DataFrame,
    eval_sets: DataFrame | None,
    n: int,
    min_overlap: float,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """The fuzzy (overlap-fraction) screen — catches PARAPHRASED
    leakage the exact any-hit screen misses. Stateless against the
    static ``eval_sets`` frame (``curation.eval_ngram_sets``), so the
    streaming twin IS the batch kernel applied per batch (one
    implementation — the anti-join contract cannot diverge between
    engines); a doc's verdict never depends on other docs or arrival
    order."""
    if eval_sets is None:
        return docs
    return decontaminate_fuzzy(
        docs, eval_sets, n=n, min_overlap=min_overlap,
        id_col=id_col, text_col=text_col,
    )


def _decontaminate_semantic(
    docs: DataFrame,
    raw: DataFrame,
    eval_emb: DataFrame | None,
    min_sim: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The SEMANTIC screen — embedding-cosine against the static eval
    embeddings (``curation.semantic_contamination_report``), catching
    translations/heavy rewrites both lexical screens miss. Embeddings
    ride the RAW input frame (``raw``) — the screen/redact stage
    projects down to (id, text), and embeddings are computed upstream
    of curation anyway — flagged ids then anti-join the cleaned
    frame. Stateless per batch like the other screens (batch ≡
    streaming structurally). Enabling it on input that carries no
    ``vec_col`` is a CONFIG error and fails loud — silently skipping
    would report the corpus "semantically screened" when nothing
    was."""
    if eval_emb is None:
        return docs
    if vec_col not in raw.columns:
        raise ValueError(
            f"semantic decontamination enabled but the input has no "
            f"{vec_col!r} column — join embeddings upstream or drop "
            "semantic_eval_emb"
        )
    from ..functions.curation import semantic_contamination_report

    # score only the SURVIVORS: docs already dropped by the quality /
    # PII / lexical-decontamination screens can't re-enter, so paying
    # |raw|×|eval| cosine volume for them is waste — semi-joining raw
    # to the cleaned frame's ids makes it |surviving|×|eval|.
    # Embeddings still ride the raw frame (the cleaned one
    # projected down to (id, text) upstream). PIN the cleaned frame
    # first: it has TWO consumers here (the semi-join's id side and
    # the anti-join's left side) and its lineage is the whole unpinned
    # screen/decontamination chain — without the pin each consumer
    # re-executes the screens and the saving is repaid (the
    # multi-consumer rule). The RESULT stays lazy: the next
    # multi-consumer boundary (classifier admission, dedup, the batch
    # twin's pin/spill) pins for itself, so a single-consumer
    # continuation never pays a second materialization here.
    docs = pin(docs)
    flagged = semantic_contamination_report(
        raw.select(id_col, vec_col).join(
            docs.select(id_col), id_col, "left_semi"
        ),
        eval_emb,
        min_sim=min_sim,
        id_col=id_col,
        vec_col=vec_col,
    )
    return docs.join(
        flagged.select(id_col).distinct(), id_col, "left_anti"
    )


def _classifier_admit(
    docs: DataFrame,
    weights: list[float] | None,
    num_buckets: int,
    ns: tuple[int, ...],
    min_prob: float,
    binary: bool,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """The learned-quality admission screen — score the cleaned frame
    under a FROZEN trained classifier (functions/classifier.py; train
    batch-side on labeled examples, deploy the weight list) and keep
    docs at ``quality_prob ≥ min_prob``. Runs AFTER the deterministic
    screens and BEFORE dedup (junk should not pay signature costs).
    The input frame is pinned — it feeds both the feature build and
    the semi-join left side (the multi-consumer rule). When the
    semantic screen ran upstream its pin sat BELOW its anti-join, so
    the frame arriving here is a new, unpinned one: reusing that pin
    would re-execute the |surviving|×|eval| cosine subplan and the
    anti-join once per consumer. Stateless per batch under static
    weights, so batch ≡ streaming congruity holds structurally like
    the other screens."""
    if weights is None:
        return docs
    if len(weights) != int(num_buckets) + 1:
        raise ValueError(
            f"classifier admission: {len(weights)} weights for "
            f"num_buckets={num_buckets} — mixed model generations? "
            "(num_buckets, ns, binary, weights) are one store identity"
        )
    from ..functions.classifier import doc_feature_vectors, score_logreg

    docs = pin(docs)
    fv = doc_feature_vectors(
        docs, num_buckets=num_buckets, ns=ns,
        id_col=id_col, text_col=text_col, binary=binary,
    )
    keep = (
        score_logreg(fv, weights)
        .filter(F.col("quality_prob") >= min_prob)
        .select(F.col("id").alias(id_col))
    )
    return docs.join(keep, id_col, "left_semi")


def _lm_scorer_or_none(
    model: DataFrame | None,
    max_ppl: float | None,
    scorer: str,
    id_col: str,
    text_col: str,
    where: str,
    discount: float | None = None,
):
    """ONE construction-time validator + builder for the LM screen —
    lives here so every caller (both composers AND any direct
    ``_lm_admit`` user) goes through the same checks (guards copied
    into the two composers would leave ``_lm_admit`` itself able to
    silently drop EVERY doc on a NULL threshold comparison). Fails loud at construction on: threshold
    or non-default scorer without a model (a screen config with
    nothing to run is a config error, never a silent pass-through),
    model without a threshold, unknown scorer. Returns None (screen
    off) or the frozen ``lm.make_bigram_scorer`` closure — model
    pinned and vocab-sized logp tables built ONCE, never per batch."""
    if model is None:
        if max_ppl is not None or scorer != "kn" or discount is not None:
            raise ValueError(
                f"{where}: lm_max_ppl/lm_scorer/lm_discount set without "
                "lm_model — the LM screen would silently not run; pass "
                "the bigram_lm_train frame or drop the knobs"
            )
        return None
    if max_ppl is None:
        raise ValueError(
            f"{where}: lm_model without lm_max_ppl — an LM screen with "
            "no threshold is a config error, never a silent "
            "pass-through (pick the cut from a batch-side quantile "
            "pass)"
        )
    if scorer not in ("kn", "jm"):
        raise ValueError(
            f"{where}: unknown lm_scorer {scorer!r} "
            "(kn = Kneser-Ney, jm = Jelinek-Mercer)"
        )
    from ..functions.lm import make_bigram_scorer

    return make_bigram_scorer(
        model, scorer=scorer, discount=discount,
        id_col=id_col, text_col=text_col,
    )


def _lm_admit(
    docs: DataFrame,
    score_fn,
    max_ppl: float | None,
    id_col: str,
) -> DataFrame:
    """The LM-perplexity admission screen — score the cleaned frame
    under the FROZEN scorer built by ``_lm_scorer_or_none`` (train
    batch-side on the target snapshot, deploy) and keep docs at
    ``ppl ≤ max_ppl`` — the CCNet cut (keep the head/middle of the
    perplexity distribution). Runs AFTER the learned classifier
    screen and BEFORE dedup, same slot logic: junk should not pay
    signature costs. The input frame is pinned first (it feeds the
    transition explode AND the final semi-join — the multi-consumer
    rule). Stateless per batch under a static model, so batch ≡
    streaming congruity holds structurally."""
    if score_fn is None:
        return docs
    docs = pin(docs)
    keep = (
        score_fn(docs).filter(F.col("ppl") <= max_ppl).select(id_col)
    )
    return docs.join(keep, id_col, "left_semi")


def corpus_curation_step(
    dedup_store_dir: str,
    out_dir: str | None = None,
    eval_grams: DataFrame | None = None,
    decontam_n: int = 8,
    decontam_max_hits: int = 0,
    threshold: float = 0.8,
    num_hashes: int = 32,
    num_bands: int = 16,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
    compact_output: bool = False,
    dedup_score=None,
    dedup_exact_verify: bool = False,
    fuzzy_eval_sets: DataFrame | None = None,
    fuzzy_n: int = 3,
    fuzzy_min_overlap: float = 0.1,
    semantic_eval_emb: DataFrame | None = None,
    semantic_min_sim: float = 0.9,
    semantic_vec_col: str = "embedding",
    classifier_weights: list[float] | None = None,
    classifier_num_buckets: int = 10_000,
    classifier_ns: tuple[int, ...] = (1, 2),
    classifier_min_prob: float = 0.5,
    classifier_binary: bool = False,
    lm_model: DataFrame | None = None,
    lm_max_ppl: float | None = None,
    lm_scorer: str = "kn",
    lm_discount: float | None = None,
    line_strip: bool = False,
) -> Callable[[DataFrame, int], DataFrame]:
    """The composed foreachBatch step; returns
    ``(batch_df, batch_id) -> admitted_df`` (id + redacted text). Wire
    it like any step in this package:

        step = corpus_curation_step(store, out_dir=out, eval_grams=g)
        stream.writeStream.foreachBatch(lambda df, bid: step(df, bid))
              .option("checkpointLocation", chk).start()

    ``eval_grams`` must be a static (batch) DataFrame with a ``gram``
    column — build it once with ``curation.eval_ngrams``.
    ``fuzzy_eval_sets`` (static, from ``curation.eval_ngram_sets``)
    additionally enables the FUZZY overlap-fraction screen after the
    exact one — dropping docs whose distinct-``fuzzy_n``-gram overlap
    with any eval item reaches ``fuzzy_min_overlap`` (paraphrased
    leaks the exact screen misses). ``semantic_eval_emb`` (static,
    (id_col, embedding) rows) additionally enables the SEMANTIC
    cosine screen when batches carry an embedding column — the third
    screen, for rewrites with no shared n-grams; enabling it without
    the column fails loud (config error, never a silent skip).
    ``classifier_weights`` (a ``functions.classifier.train_logreg``
    weight list — train batch-side on labeled examples, deploy
    frozen) additionally enables the LEARNED quality admission at
    ``classifier_min_prob``, after every deterministic screen and
    before dedup; (classifier_num_buckets, classifier_ns,
    classifier_binary) must match the training geometry (one store
    identity — a length mismatch fails loud at step construction).
    ``lm_model`` (a ``functions.lm.bigram_lm_train`` frame — train
    batch-side on the target snapshot, deploy frozen; pinned ONCE at
    step construction) additionally enables the LM-PERPLEXITY
    admission at ``ppl ≤ lm_max_ppl`` (REQUIRED with the model — a
    screen with no threshold is a config error, never a silent
    pass-through), after the classifier screen and before dedup;
    ``lm_scorer`` picks Kneser-Ney ("kn") or Jelinek-Mercer ("jm");
    ``lm_discount`` overrides KN's estimated discount (the remedy the
    degenerate-discount error prescribes — reachable from here).
    ``line_strip=True`` prepends the line-level boilerplate screen
    (``corpus.strip_boilerplate``) BEFORE the document screens — the
    RefinedWeb order, so quality metrics judge the text that will be
    trained on, not its navigation chrome; map-only, fused into the
    screen projection.
    All screens are stateless per batch against their static
    frames/weights, so batch ≡ streaming congruity holds
    structurally.
    ``compact_every=N`` applies the store retention policy to the
    dedup signature stores every N batches (store.store_compact_every)
    — without it a long-running ingestion stream accumulates one
    partition directory per micro-batch forever. ``compact_output``
    extends the same cadence to ``out_dir`` — usually the LARGEST
    store (full redacted text). Opt-in, for two reasons:

    - compaction relabels merged partitions to the highest merged
      batch id, so a downstream reader incrementally consuming by
      ``ingest_batch`` high-water mark would see already-consumed ids
      reused;
    - the crash-safe swap protocol is enforced by ``store_read``'s
      manifest check, which plain ``spark.read.parquet(out_dir)``
      consumers bypass: during the swap window (source partitions
      deleted, merged rows still staged under the underscore-prefixed
      temp dir that partition discovery ignores) such a reader gets a
      SUCCESSFUL frame silently missing the merged batches. Enable
      only when every consumer reads through ``store_read`` (or a
      table format with atomic commits fronts the directory); leave
      False otherwise and retire output partitions out-of-band.

    ``dedup_score``: a Column over (id, REDACTED text) enabling the
    quality-aware within-batch survivor election in the dedup stage
    (e.g. ``text.quality_score(F.col("text"))``); cross-batch stays
    first-seen-wins — see ``store_step._drop_within_batch`` for the
    contract.

    VERIFY-MODE DECISION (``dedup_exact_verify``, default False): the
    composed pipeline runs the dedup stage with the
    SIGNATURE-ESTIMATED Jaccard verify — the signature-only store is
    the 100 TB default (k×8 + bands×12 bytes/doc, document-length-
    independent), an exact duplicate estimates exactly 1.0 so the
    batch-congruity pins hold exactly, and only borderline ORGANIC
    pairs (estimator sd ≈ sqrt(J(1-J)/k) ≈ 0.07 at k=32, J≈0.8) can
    land on the other side of the threshold than the batch pipeline's
    exact-shingle verify. Pass ``dedup_exact_verify=True`` to opt the
    composed pipeline into ``minhash_dedup_step``'s exact-verify mode
    (store gains a ``shingles/`` half, ~8·|distinct shingles| bytes
    per admitted doc, batch/streaming policy divergence removed) —
    the trade to make when thresholds sit near organic-pair scores.
    Measured on the sf0.001 corpus (~50 distinct shingles/doc): the
    shingle half is the same order as the fixed halves (211 vs
    243 KB) — it OVERTAKES them linearly with document length
    (store-size contract pytest-pinned:
    test_minhash_exact_verify_store_size_contract).
    The mode is part of the store's identity either way (mode flips
    fail loud; pytest-pinned for this composed path).
    """
    if classifier_weights is not None and len(classifier_weights) != int(
        classifier_num_buckets
    ) + 1:
        raise ValueError(
            f"corpus_curation_step: {len(classifier_weights)} classifier "
            f"weights for num_buckets={classifier_num_buckets} — mixed "
            "model generations? (fail at construction, not first batch)"
        )
    lm_score = _lm_scorer_or_none(
        lm_model, lm_max_ppl, lm_scorer, id_col, text_col,
        "corpus_curation_step", discount=lm_discount,
    )
    dedup = minhash_dedup_step(
        dedup_store_dir,
        threshold=threshold,
        num_hashes=num_hashes,
        num_bands=num_bands,
        shingle_n=shingle_n,
        id_col=id_col,
        text_col=text_col,
        compact_every=compact_every,
        score=dedup_score,
        exact_verify=dedup_exact_verify,
    )

    def step(batch_df: DataFrame, batch_id: int) -> DataFrame:
        if out_dir is not None and compact_output:
            store_compact_every(
                batch_df.sparkSession, [(out_dir, None)], batch_id, compact_every
            )
        clean = _screen_and_redact(
            batch_df, id_col, text_col, line_strip=line_strip
        )
        clean = _decontaminate(
            clean, eval_grams, decontam_n, decontam_max_hits, id_col, text_col
        )
        clean = _decontaminate_fuzzy(
            clean, fuzzy_eval_sets, fuzzy_n, fuzzy_min_overlap, id_col, text_col
        )
        clean = _decontaminate_semantic(
            clean, batch_df, semantic_eval_emb, semantic_min_sim,
            id_col, semantic_vec_col,
        )
        clean = _classifier_admit(
            clean, classifier_weights, classifier_num_buckets,
            classifier_ns, classifier_min_prob, classifier_binary,
            id_col, text_col,
        )
        clean = _lm_admit(clean, lm_score, lm_max_ppl, id_col)
        admitted = dedup(clean, batch_id)
        if out_dir is not None:
            # store_append: idempotent per-batch partition + bounded
            # shard count (tiny micro-batches must not write one file
            # per shuffle partition)
            kept = store_append(admitted, out_dir, batch_id)
            # hand back the WRITTEN partition: a caller consuming the
            # return (metrics, secondary sink) would otherwise re-run
            # screens + decontamination + the dedup joins per
            # consumption. Consume within the micro-batch — see
            # store_read_batch's lifetime contract. An all-dropped /
            # empty batch wrote nothing (store_append removed the
            # file-less partition) — synthesize the empty frame.
            if not kept:
                return batch_df.sparkSession.createDataFrame(
                    [], admitted.schema
                )
            return store_read_batch(batch_df.sparkSession, out_dir, batch_id)
        return admitted

    return step


def pack_sequences_step(
    store_dir: str,
    seq_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "source",
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], DataFrame]:
    """foreachBatch step for STREAMING concat-then-chunk sequence
    packing — each stratum's token stream continues across
    micro-batches, so the assembled sequence ids are globally
    consistent with running ``curation.pack_sequences`` over the full
    id-ordered corpus (congruity-pinned). Returns ``(batch_df,
    batch_id) -> packed_df`` with the same columns as the batch
    operator.

    PRECONDITION (enforced, not just assumed): per stratum,
    micro-batches must arrive in nondecreasing id order — every id in
    batch b must exceed every id the stratum saw in batches < b.
    That is what makes the streamed seq_id/seq_offset assignments
    equal ``pack_sequences`` over the full corpus; out-of-order
    arrival would silently produce a different (still valid-looking)
    packing. The store therefore keeps a per-stratum MAX-ID
    high-water mark alongside the token total, and a violating batch
    fails loud in-plan (lazy ``raise_error`` riding the offset join —
    no extra pass or action).

    State is the smallest possible: ONE (stratum, tokens, max_id) row
    per micro-batch in a partitioned store — maintained with the
    package's store discipline (replay overwrites its own
    ``ingest_batch=`` partition; the probe reads strictly-prior
    partitions, so a replayed batch never counts its failed attempt's
    tokens). Global position = stored prior total + the batch-local
    window sum; NULL strata and NULL-text docs flow exactly as in the
    batch form (null-safe join, NULL seq ids for NULL text; NULL ids
    bypass the order guard — they carry no order). ``compact_every=N``
    folds committed high-water-mark partitions every N batches — the
    store is tiny (one row per stratum per batch) but its DIRECTORY
    count is what grows unbounded on a long stream."""
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")

    def step(batch_df: DataFrame, batch_id: int) -> DataFrame:
        from ..functions.corpus import _tokens

        spark = batch_df.sparkSession
        store_compact_every(spark, [(store_dir, None)], batch_id, compact_every)
        t = F.col(text_col)
        counted = batch_df.select(
            F.col(id_col),
            F.col(strata_col),
            F.size(_tokens(t)).cast("bigint").alias("n_tokens"),
        )
        w = (
            Window.partitionBy(strata_col)
            .orderBy(F.asc(id_col))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        local_cb = F.sum("n_tokens").over(w) - F.col("n_tokens")
        local = counted.withColumn("__local_cb", local_cb)

        # merge_schema: marks written before the max_id guard existed
        # lack that column; a plain read could pick such a footer and
        # silently disable the guard for EVERY stratum (and a compact
        # cycle would bake the column-less schema in) — merged footers
        # surface max_id with NULLs for the pre-guard marks instead
        prior = store_read(
            spark, store_dir, before_batch=batch_id, merge_schema=True
        )
        if prior is not None:
            # marks written before the order guard existed lack max_id;
            # treat their high-water mark as unknown (guard inert for
            # those strata) instead of failing the resumed stream
            prior_max = (
                F.max("max_id")
                if "max_id" in prior.columns
                else F.max(F.lit(None).cast("bigint"))
            )
            offs = prior.groupBy(strata_col).agg(
                F.sum("tokens").alias("__off"),
                prior_max.alias("__prior_max"),
            )
            l, o = local.alias("l"), offs.alias("o")
            ordered_off = F.when(
                F.col(f"l.{id_col}") <= F.col("__prior_max"),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "pack_sequences_step: out-of-order arrival — "
                            f"{id_col} "
                        ),
                        F.col(f"l.{id_col}").cast("string"),
                        F.lit(" <= the stratum's prior max id "),
                        F.col("__prior_max").cast("string"),
                        F.lit(
                            "; per-stratum id-ordered ingestion is the "
                            "congruity precondition (see docstring)"
                        ),
                    )
                ).cast("bigint"),
            ).otherwise(F.coalesce(F.col("__off"), F.lit(0)))
            local = l.join(
                F.broadcast(o),
                F.col(f"l.{strata_col}").eqNullSafe(F.col(f"o.{strata_col}")),
                "left",
            ).select("l.*", ordered_off.alias("__off"))
        else:
            local = local.withColumn("__off", F.lit(0).cast("bigint"))

        cb = F.col("__off") + F.col("__local_cb")
        packed = local.select(
            F.col(id_col),
            F.col(strata_col),
            "n_tokens",
            F.floor(cb / seq_len).cast("bigint").alias("seq_id"),
            (cb % seq_len).cast("bigint").alias("seq_offset"),
        )
        # advance the high-water marks BEFORE returning: groupBy keeps
        # the NULL stratum as its own row, coalesce records zero for
        # all-NULL batches so the stored sum stays non-degenerate
        marks = counted.groupBy(strata_col).agg(
            F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("tokens"),
            F.max(F.col(id_col)).alias("max_id"),
        )
        store_append(marks, store_dir, batch_id, max_files=1)
        return packed

    return step


def pack_shards_step(
    store_dir: str,
    shards_dir: str,
    seq_len: int,
    seqs_per_shard: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "source",
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], DataFrame]:
    """The trainer-consumable streaming assembly endpoint:
    ``pack_sequences_step``'s global sequence assignments composed
    with the packed-shard row builder (``curation.packed_slice_rows``
    — the SAME frame ``save_packed_shards`` writes), landed per batch
    under the store contract. Returns ``(batch_df, batch_id) ->
    shard_rows_df``; wire it like any step in this package.

    Congruity (pytest-pinned): the union of all streamed shard rows
    over an id-ordered ingestion ≡ the rows batch
    ``save_packed_shards`` writes for the same corpus — including
    replay across a store-compaction boundary. Layout differs by
    design: streaming lands ``ingest_batch=<id>`` partitions
    (idempotent replay, ``compact_every`` retention) with rows
    clustered on seq_id for row-group pruning; a training loader
    reads through ``store_read`` and sorts/buckets by (stratum,
    shard, seq_id) downstream, or a periodic batch job rewrites the
    accumulated store into the ``stratum=S/shard=K`` layout with
    ``save_packed_shards`` semantics. Inherits the packer's
    id-ordered-arrival guard and the row builder's NULL/duplicate-id
    fail-loud checks; the per-batch cost is the batch writer's plan
    over the micro-batch (one text join, tokenize-once slice
    projection, no extra shuffle beyond the writer clamp)."""
    from ..functions.curation import packed_slice_rows

    packer = pack_sequences_step(
        store_dir,
        seq_len,
        id_col=id_col,
        text_col=text_col,
        strata_col=strata_col,
        compact_every=compact_every,
    )

    def step(batch_df: DataFrame, batch_id: int) -> DataFrame:
        store_compact_every(
            batch_df.sparkSession,
            [(shards_dir, "seq_id")],
            batch_id,
            compact_every,
        )
        packed = packer(batch_df, batch_id)
        rows = packed_slice_rows(
            batch_df,
            packed,
            seq_len,
            seqs_per_shard,
            id_col=id_col,
            text_col=text_col,
            strata_col=strata_col,
        )
        kept = store_append(rows, shards_dir, batch_id, sort_by="seq_id")
        # return the WRITTEN partition, not the producing plan: a
        # caller consuming the returned frame (sink, metrics) would
        # otherwise re-run the whole slice pipeline per consumption —
        # the same argument as store_append's unconditional clamp.
        # Consume within the micro-batch (store_read_batch contract).
        # An all-dropped / empty batch wrote nothing — synthesize the
        # empty frame instead of reading a removed path.
        if not kept:
            return batch_df.sparkSession.createDataFrame([], rows.schema)
        return store_read_batch(batch_df.sparkSession, shards_dir, batch_id)

    return step


def curation_to_shards_step(
    dedup_store_dir: str,
    pack_store_dir: str,
    shards_dir: str,
    seq_len: int,
    seqs_per_shard: int,
    eval_grams: DataFrame | None = None,
    decontam_n: int = 8,
    decontam_max_hits: int = 0,
    threshold: float = 0.8,
    num_hashes: int = 32,
    num_bands: int = 16,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "source",
    compact_every: int | None = None,
    dedup_score=None,
    dedup_exact_verify: bool = False,
    fuzzy_eval_sets: DataFrame | None = None,
    fuzzy_n: int = 3,
    fuzzy_min_overlap: float = 0.1,
    semantic_eval_emb: DataFrame | None = None,
    semantic_min_sim: float = 0.9,
    semantic_vec_col: str = "embedding",
) -> Callable[[DataFrame, int], DataFrame]:
    """The WHOLE ingestion-to-training-shards pipeline as one
    foreachBatch step: screens → PII redaction → decontamination →
    minhash-store near-dedup (``corpus_curation_step``) composed with
    global sequence packing + packed-shard landing
    (``pack_shards_step``). Survivors carry their REDACTED text into
    the shards — the order a real pipeline requires (leaked PII must
    never reach trainer-consumable bytes). The stratum column is
    re-joined from the batch (the curation stages are
    stratum-agnostic; the join is batch-local and id-keyed). The
    dedup stage runs the signature-estimated verify by default —
    ``corpus_curation_step``'s documented VERIFY-MODE DECISION;
    ``dedup_exact_verify=True`` opts into the exact-shingle store.

    Congruity (pytest-pinned): over id-ordered ingestion the union of
    streamed shard rows ≡ batch ``corpus_curation_batch`` →
    ``save_packed_shards`` over the full corpus. Inherits every
    composed guarantee: replay idempotency per store, compaction
    cadence, the id-ordered-arrival guard, NULL/duplicate-id
    fail-loud checks. Returns the batch's written shard rows."""
    curate = corpus_curation_step(
        dedup_store_dir,
        out_dir=None,
        eval_grams=eval_grams,
        decontam_n=decontam_n,
        decontam_max_hits=decontam_max_hits,
        threshold=threshold,
        num_hashes=num_hashes,
        num_bands=num_bands,
        shingle_n=shingle_n,
        id_col=id_col,
        text_col=text_col,
        compact_every=compact_every,
        dedup_score=dedup_score,
        dedup_exact_verify=dedup_exact_verify,
        fuzzy_eval_sets=fuzzy_eval_sets,
        fuzzy_n=fuzzy_n,
        fuzzy_min_overlap=fuzzy_min_overlap,
        semantic_eval_emb=semantic_eval_emb,
        semantic_min_sim=semantic_min_sim,
        semantic_vec_col=semantic_vec_col,
    )
    pack = pack_shards_step(
        pack_store_dir,
        shards_dir,
        seq_len,
        seqs_per_shard,
        id_col=id_col,
        text_col=text_col,
        strata_col=strata_col,
        compact_every=compact_every,
    )

    def step(batch_df: DataFrame, batch_id: int) -> DataFrame:
        admitted = curate(batch_df, batch_id)
        # pin the curated frame: the packer consumes it more than once
        # (high-water-mark aggregate + slice-row write), and without a
        # materialization each consumption would re-run the screens +
        # decontamination joins (the dedup drops are already pinned
        # inside the dedup step; the screen projection is not).
        # eqNullSafe, not a plain equi-join: a NULL-id doc must REACH
        # the packer's fail-loud NULL-id guard (matching the batch
        # twin), not vanish in the strata re-join.
        a = admitted.alias("a")
        b = batch_df.select(F.col(id_col), F.col(strata_col)).alias("b")
        with_strata = pin(
            a.join(
                b,
                F.col(f"a.{id_col}").eqNullSafe(F.col(f"b.{id_col}")),
            )
            .select("a.*", F.col(f"b.{strata_col}"))
        )
        return pack(with_strata, batch_id)

    return step


def corpus_curation_batch(
    docs: DataFrame,
    eval_grams: DataFrame | None = None,
    decontam_n: int = 8,
    decontam_max_hits: int = 0,
    threshold: float = 0.8,
    num_hashes: int = 32,
    num_bands: int = 16,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    spill_dir: str | None = None,
    fuzzy_eval_sets: DataFrame | None = None,
    fuzzy_n: int = 3,
    fuzzy_min_overlap: float = 0.1,
    semantic_eval_emb: DataFrame | None = None,
    semantic_min_sim: float = 0.9,
    semantic_vec_col: str = "embedding",
    classifier_weights: list[float] | None = None,
    classifier_num_buckets: int = 10_000,
    classifier_ns: tuple[int, ...] = (1, 2),
    classifier_min_prob: float = 0.5,
    classifier_binary: bool = False,
    lm_model: DataFrame | None = None,
    lm_max_ppl: float | None = None,
    lm_scorer: str = "kn",
    lm_discount: float | None = None,
    line_strip: bool = False,
) -> DataFrame:
    """The batch twin of ``corpus_curation_step`` over a full corpus:
    identical screens/redaction/decontamination expressions (exact AND
    optional fuzzy overlap-fraction screens), then the
    batch near-dedup operators (candidate pairs → exact-shingle verify
    → clusters → min-id canonical). The congruity test pins streaming
    ≡ batch under id-ordered ingestion.

    The curated frame feeds THREE consumers (candidate generation,
    verification, survivor join) and Spark does not reuse subtrees —
    without materialization the screen/redact projection would run
    three times. Default: an eager checkpoint (bench-sized corpora).
    Pass ``spill_dir`` for the 100 TB path: the curated corpus is
    written to storage once and every consumer scans the parquet (the
    same discipline as ``embedding_near_dups``). ``spill_dir`` also
    re-points the enabled semantic/classifier/LM screens'
    multi-consumer pins at parquet stage spills (``_stage_*``
    subdirectories): the input of each such screen is spilled here,
    so the screen's own ``pin`` finds it pinned. On the 100 TB path an
    executor-storage checkpoint of the whole cleaned corpus would be
    a second corpus-scale memory/disk-block residency; a stage parquet
    is written once, scanned by each consumer, and lives where the
    curated output already lives.
    Layout under ``spill_dir``: the curated pre-dedup corpus lands in
    ``curated/`` (its own subdirectory, NOT the root: an overwrite of
    the root would delete the stage spills the still-lazy curated
    plan reads from), stage pins in ``_stage_semantic_in/`` /
    ``_stage_classifier_in/`` / ``_stage_lm_in/`` when the matching
    screens are enabled — the caller owns cleanup of the directory
    as a whole."""
    def stage(df: DataFrame, tag: str, enabled: bool) -> DataFrame:
        if spill_dir is None or not enabled:
            return df
        # "_"-prefixed: Spark's scans hide _*/.* paths, so a
        # root-level read of spill_dir never sees stage spills
        return pin(df, spill_dir=_os.path.join(spill_dir, f"_stage_{tag}"))

    lm_score = _lm_scorer_or_none(
        lm_model, lm_max_ppl, lm_scorer, id_col, text_col,
        "corpus_curation_batch", discount=lm_discount,
    )
    clean = _screen_and_redact(docs, id_col, text_col, line_strip=line_strip)
    clean = _decontaminate(
        clean, eval_grams, decontam_n, decontam_max_hits, id_col, text_col
    )
    clean = _decontaminate_fuzzy(
        clean, fuzzy_eval_sets, fuzzy_n, fuzzy_min_overlap, id_col, text_col
    )
    clean = _decontaminate_semantic(
        stage(clean, "semantic_in", semantic_eval_emb is not None),
        docs, semantic_eval_emb, semantic_min_sim, id_col, semantic_vec_col,
    )
    clean = _classifier_admit(
        stage(clean, "classifier_in", classifier_weights is not None),
        classifier_weights, classifier_num_buckets,
        classifier_ns, classifier_min_prob, classifier_binary,
        id_col, text_col,
    )
    clean = _lm_admit(
        stage(clean, "lm_in", lm_score is not None), lm_score, lm_max_ppl, id_col
    )
    clean = pin(
        clean,
        spill_dir=None if spill_dir is None else _os.path.join(spill_dir, "curated"),
    )
    cands = minhash_candidate_pairs(
        clean,
        num_hashes=num_hashes,
        num_bands=num_bands,
        shingle_n=shingle_n,
        id_col=id_col,
        text_col=text_col,
    )
    pairs = verified_near_dups(
        clean,
        cands,
        threshold=threshold,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
    ).select("id_a", "id_b")
    return keep_canonical(clean, dup_clusters(pairs), id_col=id_col)
