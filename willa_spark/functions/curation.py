"""Corpus curation / assembly operators for training-data pipelines:
PII redaction, eval-set decontamination, corpus-wide line dedup, and
deterministic data mixing (hash-stratified sampling + per-source token
budgets).

These are the governance/assembly stages that follow the quality and
repetition screens (willa_spark.functions.corpus) in a real pretraining
pipeline (C4, Raffel et al. 2020 §2.2; RefinedWeb, Penedo et al. 2023;
CCNet, Wenzek et al. 2020). The reference (DaveWM/willa) has no corpus
operators at all — users would bury this logic in opaque transducer fns
(src/willa/core.clj:90-101); here each stage is a first-class,
oracle-checked relational operator.

Scale notes (the plans a 100 TB corpus wants):
- PII redaction and sampling are pure map-only Column expressions —
  zero shuffle, zero Python.
- Decontamination explodes corpus n-grams but joins them against a
  BROADCAST eval-gram set (eval sets are ~MBs), so the only shuffle is
  the per-doc hit count over the (tiny) post-join match set.
- Line dedup is inherently corpus-wide: one partial-agg shuffle on the
  line hash to elect first owners, a co-partitioned join back (the
  exchange is reused), and a per-doc rollup. All linear; a
  pathologically hot line (boilerplate repeated 10^9 times) is a
  single-key partial-agg min, not a data explosion, and AQE handles
  the join-back skew.
- Token-budget capping sorts WITHIN each stratum (a per-source window);
  strata counts are small (sources), and per-stratum data is
  range-partitioned by Spark's window exec.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..pin import pin
from ._guards import check_cols_tuple
from .corpus import _pseudo_lines, _tokens
from .dedup import shingles
from .text import quality_score

# ------------------------------------------------------------------ PII
# Pattern set kept RE2-compatible (no backrefs/lookarounds) so the
# DuckDB oracle can run character-identical regexes.
PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"


def pii_redact(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple = (),
) -> DataFrame:
    """Redact emails / IPv4s / phone numbers with typed placeholder
    tokens and count each category. Pure map-only Column expressions —
    zero shuffle, zero Python; the 100 TB plan is a single scan.

    Each category is counted on the text AFTER the preceding
    replacements — matching the replace chain exactly — so the counts
    always agree with what appears in ``text_clean``. (Counting every
    category on the raw text would disagree on overlapping matches:
    'a@10.0.0.1.com' raw-counts 1 email AND 1 ip, yet only <EMAIL>
    survives redaction.)

    Returns (id, [keep_cols...], n_emails, n_ips, n_phones,
    text_clean) — ``keep_cols`` pass extra per-doc columns through the
    map-only projection (composition callers would otherwise pay a
    doc-cardinality re-join to recover them).
    """
    check_cols_tuple("keep_cols", keep_cols)
    t = F.col(text_col)
    after_email = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, PII_IPV4, "<IP>")
    clean = F.regexp_replace(after_ip, PII_PHONE, "<PHONE>")
    return docs.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.regexp_count(t, F.lit(PII_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count(after_email, F.lit(PII_IPV4)).cast("bigint").alias("n_ips"),
        F.regexp_count(after_ip, F.lit(PII_PHONE)).cast("bigint").alias("n_phones"),
        clean.alias("text_clean"),
    )


def plant_pii(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", every: int = 7
) -> DataFrame:
    """Deterministically append one email + IP + phone to every
    ``every``-th document (the synthetic corpus contains no PII, so an
    unplanted redaction query would be vacuously green). Mirrored
    exactly in the DuckDB oracle SQL."""
    i = F.col(id_col)
    planted = F.concat(
        F.col(text_col),
        F.lit(" contact user"),
        i.cast("string"),
        F.lit("@example.com or 10.0."),
        (i % 256).cast("string"),
        F.lit(".7 at 555-300-"),
        (F.lit(1000) + i % 9000).cast("string"),
    )
    return docs.withColumn(
        text_col, F.when(i % every == 0, planted).otherwise(F.col(text_col))
    )


# -------------------------------------------------- decontamination
def eval_ngrams(
    eval_docs: DataFrame, n: int = 8, text_col: str = "text"
) -> DataFrame:
    """Distinct word ``n``-grams of an eval/benchmark set — the
    blocklist side of decontamination. Eval sets are tiny relative to
    the corpus (MBs vs TBs), so this frame is meant to be broadcast."""
    return (
        eval_docs.select(F.explode(shingles(F.col(text_col), n)).alias("gram"))
        .distinct()
    )


def _checked_gram_width(eval_frame: DataFrame, n: int, what: str) -> DataFrame:
    """Fail loud when the eval gram frame's grams are not ``n``-token
    grams: an eval frame built with a different ``n`` than the report
    explodes corpus-side can NEVER join (a 3-gram string never equals
    a 4-gram string), so the screen silently reports zero
    contamination — the exact silent-coverage-gap class this module
    raises loudly for elsewhere (r15 review). Grams are
    single-space-joined token runs (``shingles``), so token count is
    structural; the guard rides the broadcast build's scan of the
    (tiny) eval frame and fires even when the join has no matches."""
    return eval_frame.withColumn(
        "gram",
        F.when(
            F.size(F.split(F.col("gram"), " ")) == n, F.col("gram")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"{what}: eval gram frame holds grams of a "
                        f"different n than this report's n={n} — the "
                        "join would match nothing and report ZERO "
                        "contamination; rebuild the eval frame with "
                        "the same n: gram="
                    ),
                    F.col("gram"),
                )
            ).cast("string")
        ),
    )


def contamination_report(
    docs: DataFrame,
    eval_grams: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document eval-set n-gram overlap: (id, n_hits,
    n_distinct_grams) for every document sharing at least one n-gram
    with the eval set (GPT-3 appendix C / PaLM-style 8-gram
    decontamination; production uses 8-13 token grams).

    Plan shape: the corpus side explodes its n-grams map-side and
    immediately hash-joins against the BROADCAST eval-gram set — no
    corpus-wide shuffle of grams; only the surviving matches (tiny by
    construction) shuffle for the per-doc count. ``docs`` should be the
    training candidates; matched docs are dropped or flagged upstream
    of tokenization.
    """
    eval_grams = _checked_gram_width(eval_grams, n, "contamination_report")
    grams = docs.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("gram")
    )
    hits = grams.join(F.broadcast(eval_grams), "gram")
    # size(collect_set()) rather than count_distinct: identical value,
    # but it also runs as a STREAMING aggregation (distinct aggregates
    # are rejected on streams), and the set is bounded by the eval
    # set's gram count, not the corpus.
    return hits.groupBy(id_col).agg(
        F.count("*").alias("n_hits"),
        F.size(F.collect_set(F.col("gram"))).cast("bigint").alias("n_distinct_grams"),
    )


def plant_eval_leaks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    every: int = 97,
    id_offset: int = 1_000_000,
) -> DataFrame:
    """Append a leaked variant of every ``every``-th document: a new
    doc (id + ``id_offset``) whose text is tokens 3..18 of the source —
    a verbatim 16-token excerpt, the classic partial-contamination
    shape. The synthetic corpus has no real cross-doc 8-gram overlap
    (40-word vocab, 40^8 space), so leaks make decontamination
    observable. Mirrored in the oracle SQL.

    Leak ids must not collide with real ids, so every original id is
    VALIDATED < id_offset — lazily, inside the plan
    (``_plant_id_guard``: raise_error on violation), costing no extra
    pass and working under streaming too."""
    base = docs.select(
        _plant_id_guard(docs, id_col, id_offset, "plant_eval_leaks").alias(id_col),
        F.col(text_col),
    )
    leaks = base.filter(F.col(id_col) % every == 0).select(
        (F.col(id_col) + id_offset).alias(id_col),
        F.array_join(F.slice(_tokens(F.col(text_col)), 3, 16), " ").alias(text_col),
    )
    return base.unionByName(leaks)


# --------------------------------------- fuzzy (overlap-fraction) decontamination
def _plant_id_guard(docs: DataFrame, id_col: str, id_offset: int, what: str) -> Column:
    """Plant-id collision guard shared by the leak planters: the
    original id validated 0 <= id < ``id_offset`` LAZILY inside the
    plan (raise_error on violation — a corpus whose ids reach the
    offset would silently merge contamination stats for unrelated
    docs; a NEGATIVE id can do the same from below, e.g.
    -999_876 + 1_000_000 collides with real doc 124 — r15 review)."""
    return F.when(
        # isNull FIRST: without it a NULL id makes the whole predicate
        # NULL and when() falls through to otherwise — the NULL-id row
        # silently bypassing the guard (r15 fix-review), against the
        # module's NULL-id-fails-loud discipline
        F.col(id_col).isNull()
        | (F.col(id_col) >= id_offset)
        | (F.col(id_col) < 0),
        F.raise_error(
            F.concat(
                F.lit(
                    f"{what}: {id_col} outside [0, id_offset) "
                    f"(id_offset={id_offset}) could collide with leak "
                    "ids; raise id_offset above the max corpus id (and "
                    "re-id NULL/negative ids upstream): got "
                ),
                # coalesce: a NULL id must not NULL-out the message
                # (concat propagates NULL and raise_error needs text)
                F.coalesce(F.col(id_col).cast("string"), F.lit("NULL")),
            )
        ).cast(docs.schema[id_col].dataType),
    ).otherwise(F.col(id_col))


def plant_paraphrased_leaks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    every: int = 97,
    drop_every: int = 4,
    id_offset: int = 1_000_000,
) -> DataFrame:
    """Append a PARAPHRASED leak of every ``every``-th document: a new
    doc (id + ``id_offset``) whose text is the source with every
    ``drop_every``-th token dropped — the deterministic stand-in for a
    reworded benchmark leak. No 8-token verbatim run survives (the
    longest intact run is ``drop_every`` − 1 tokens), so the exact
    8-gram screen (``contamination_report``) is BLIND to it by
    construction, while roughly 1/``drop_every`` of the source's
    distinct 3-grams remain intact (one surviving 3-run per dropped
    position) — exactly the gap ``fuzzy_contamination_report`` exists
    to close. Same id-collision guard as ``plant_eval_leaks``;
    mirrored in the oracle SQL (tokens here are the RAW whitespace
    split, matching ``dedup.shingles`` tokenization)."""
    base = docs.select(
        _plant_id_guard(docs, id_col, id_offset, "plant_paraphrased_leaks").alias(
            id_col
        ),
        F.col(text_col),
    )
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    kept = F.filter(toks, lambda x, i: i % drop_every != 0)
    leaks = base.filter(F.col(id_col) % every == 0).select(
        (F.col(id_col) + id_offset).alias(id_col),
        F.array_join(kept, " ").alias(text_col),
    )
    return base.unionByName(leaks)


def eval_ngram_sets(
    eval_docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(eval_id, gram, n_grams): each eval/benchmark item's DISTINCT
    word ``n``-grams plus the item's distinct-gram count — the
    broadcast side of fuzzy decontamination (``eval_ngrams`` keyed and
    counted per item, so overlap FRACTIONS are computable). Eval sets
    are tiny relative to the corpus; the frame is meant to be built
    once and broadcast.

    MINIMUM-TOKEN CONTRACT: an item with fewer than ``n`` tokens (or
    NULL/blank text) yields ZERO n-grams — no row, no join hit, so it
    would silently receive NO fuzzy-decontamination protection while
    the caller believes the whole benchmark is screened. That is a
    silent coverage gap (r9 advice), so it fails LOUD in-plan; screen
    sub-``n`` items separately with a smaller ``n`` or the exact
    whole-item screen (``eval_ngrams``/``contamination_report``). A
    whole-text fallback gram would NOT protect them — the corpus side
    explodes ``n``-grams only, so a shorter gram can never join."""
    s = F.array_distinct(shingles(F.col(text_col), n))
    guarded = F.when(F.size(s) > 0, s).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"eval_ngram_sets: eval item has fewer than n={n} "
                    "tokens (zero n-grams) and would silently get NO "
                    "fuzzy-decontamination coverage; screen short items "
                    "with a smaller n or the exact screen — eval_id="
                ),
                F.col(id_col).cast("string"),
            )
        ).cast("array<string>")
    )
    g = eval_docs.select(
        F.col(id_col).alias("eval_id"),
        F.explode(guarded).alias("gram"),
    ).distinct()
    # distinct() ABOVE the explode output, not per-row: an eval_id
    # appearing in two rows previously double-counted its grams in
    # n_grams while collect_set capped the numerator — every overlap
    # fraction halved and genuinely contaminated docs slipped the
    # threshold silently (r15 review). The window count replaces the
    # former g⋈groupBy(g) self-join, which exploded every eval item
    # twice (same rows, one pass).
    return g.withColumn(
        "n_grams", F.count(F.lit(1)).over(Window.partitionBy("eval_id"))
    )


def fuzzy_contamination_report(
    docs: DataFrame,
    eval_sets: DataFrame,
    n: int = 3,
    min_overlap: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """FRACTION-based n-gram decontamination (the PaLM-style overlap
    fraction, vs ``contamination_report``'s GPT-3-style any-hit
    screen): flag every (doc, eval item) pair where the fraction of
    the eval item's distinct ``n``-grams contained in the doc reaches
    ``min_overlap``. Real benchmark leakage is often PARAPHRASED —
    token dropout/reorder leaves no verbatim 8-gram for the exact
    screen, but short-gram mass survives rewording: at the default
    n = 3 a drop-every-4th-token paraphrase keeps ~1/4 of the eval
    item's distinct 3-grams (measured 0.22–0.26 on the test corpus —
    2× above the 0.1 default threshold), while organic cross-doc
    3-gram containment stays near zero outside genuine duplicates.

    Returns (id, eval_id, n_shared_grams, overlap) for flagged pairs;
    overlap is reported rounded to 4dp, thresholded UNROUNDED (an
    exact integer ratio — engine-independent).

    Plan shape (the ``contamination_report`` discipline): corpus
    n-grams explode map-side and immediately hash-join the BROADCAST
    eval gram sets — no corpus-wide gram shuffle; only surviving hits
    (bounded by |eval grams| × containing docs) shuffle for the
    per-(doc, eval) distinct count; the per-eval gram totals ride the
    broadcast rows (``F.first``). ``size(collect_set())`` keeps the
    aggregation streaming-legal, bounded by the eval item's gram
    count."""
    eval_sets = _checked_gram_width(eval_sets, n, "fuzzy_contamination_report")
    grams = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("gram"),
    )
    hits = grams.join(F.broadcast(eval_sets), "gram")
    per = hits.groupBy(id_col, "eval_id").agg(
        F.size(F.collect_set("gram")).cast("bigint").alias("n_shared_grams"),
        F.first("n_grams").alias("__n_ev"),
    )
    return per.filter(
        F.col("n_shared_grams") / F.col("__n_ev") >= F.lit(min_overlap)
    ).select(
        F.col(id_col),
        "eval_id",
        "n_shared_grams",
        F.round(F.col("n_shared_grams") / F.col("__n_ev"), 4).alias("overlap"),
    )


def decontaminate_fuzzy(
    docs: DataFrame,
    eval_sets: DataFrame,
    n: int = 3,
    min_overlap: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Drop every document flagged by ``fuzzy_contamination_report``
    against ANY eval item — the apply half of fuzzy decontamination
    (anti-join on the flagged id set, the ``_decontaminate`` shape)."""
    hot = fuzzy_contamination_report(
        docs, eval_sets, n=n, min_overlap=min_overlap, id_col=id_col, text_col=text_col
    )
    return docs.join(hot.select(id_col).distinct(), id_col, "left_anti")


# ------------------------------------------------- corpus line dedup
def line_dedup_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_per_line: int = 8,
) -> DataFrame:
    """Corpus-WIDE duplicate-line removal stats (CCNet, Wenzek et al.
    2020 §3.1: hash every line, keep only the first occurrence across
    the whole corpus — kills boilerplate headers/footers/menus). Lines
    here are deterministic ``tokens_per_line``-token pseudo-lines (the
    synthetic corpus has no newlines; real corpora split on '\\n'
    upstream). First occurrence = minimum (doc_id, position).

    Returns (id, n_lines, n_kept, kept_char_frac) per document.

    Plan: posexplode lines → xxhash64 → partial-agg min(struct(doc,
    pos)) per hash (one shuffle; a line repeated 10^9 times is still
    one partial-agg key, not a blowup) → join occurrences back on the
    SAME hash (exchange reuse, AQE handles hot-line skew) → per-doc
    rollup. Joining on the 64-bit hash instead of the line string is
    the 100 TB shape; a collision needs ~2^32 distinct lines
    (birthday) and would only mis-drop one line.
    """
    t = F.col(text_col)
    # NULL-id guard like the mixing ops (r15 review): a NULL-id row's
    # struct(NULL, pos) would WIN the min() owner election below, the
    # keep test would evaluate NULL for every occurrence of that line,
    # and the line would count as kept NOWHERE — silently dropped
    # corpus-wide with no surviving copy
    occ = docs.filter(F.size(_tokens(t)) > 0).select(
        _checked_not_null_id(docs, id_col, "line_dedup_stats").alias(id_col),
        F.posexplode(_pseudo_lines(t, tokens_per_line)).alias("pos", "line"),
    )
    occ = occ.withColumn("__h", F.xxhash64(F.col("line")))
    first = occ.groupBy("__h").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias(
            "__o"
        )
    )
    flagged = occ.join(first, "__h").withColumn(
        "__keep",
        (F.col(id_col) == F.col("__o.d")) & (F.col("pos") == F.col("__o.p")),
    )
    return flagged.groupBy(id_col).agg(
        F.count("*").alias("n_lines"),
        F.count(F.when(F.col("__keep"), 1)).alias("n_kept"),
        F.round(
            F.sum(F.when(F.col("__keep"), F.length("line")).otherwise(0))
            / F.greatest(F.sum(F.length("line")), F.lit(1)),
            4,
        ).alias("kept_char_frac"),
    )


# 16 tokens = exactly 2 pseudo-lines at the default 8 tokens/line, so
# the planted prefix aligns to line boundaries and the rest of each
# planted doc re-chunks to (still unique) shifted lines.
SPAM_PREFIX = (
    "subscribe now for free daily updates click here to get the best offers in your inbox"
)


def plant_spam_lines(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", every: int = 10
) -> DataFrame:
    """Prepend a fixed 16-token boilerplate prefix to every
    ``every``-th document — cross-document duplicated lines that make
    corpus-wide line dedup observable (the word-salad corpus has no
    natural cross-doc pseudo-line collisions). Mirrored in oracle SQL."""
    return docs.withColumn(
        text_col,
        F.when(
            F.col(id_col) % every == 0,
            F.concat(F.lit(SPAM_PREFIX + " "), F.col(text_col)),
        ).otherwise(F.col(text_col)),
    )


# ------------------------------------------------------- data mixing
# Knuth's multiplicative hash constant (2^32 / phi). Sampling keyed on
# a deterministic id hash instead of an RNG is deliberate: Spark task
# RETRIES re-execute partitions, so rand()-based sampling can emit
# different rows on retry mid-job; a pure function of the row cannot.
KNUTH = 2654435761
_2_32 = 1 << 32


def hash_uniform(id_col: Column, salt: int = 0) -> Column:
    """Deterministic uniform [0,1) from an integer id. ``salt`` derives
    an INDEPENDENT uniform from the same id — each sampling decision in
    a pipeline must use its own salt, or the decisions correlate (the
    same low-hash documents would win every gate: be sampled AND
    repeated AND put in the validation split).

    salt=0 keeps the historic multiplicative-hash values exactly
    (equidistributed on sequential ids; safe for ids < 2^31 — the
    DuckDB oracles replicate this arithmetic character-for-character).
    (value-identical wherever the direct product doesn't overflow —
    see ``_knuth_mod32``). salt != 0 uses ``xxhash64(id, salt)``
    instead: salting the
    MULTIPLICATIVE hash would be an affine shift — (id+s)·K mod 2^32 =
    id·K + s·K, the same uniform offset by a constant ≈ 0.618·s, i.e.
    perfectly CORRELATED gates (sampling at 1% then splitting would
    put every sampled doc in 'train', and fractional epochs below
    0.618 would never grant a sampled doc its extra copy) — xxhash64's
    avalanche gives genuinely independent draws per salt.

    COMPATIBILITY: the salted values are part of any MATERIALIZED
    artifact's contract (a persisted train/val/test split, a repeated
    corpus). The salt mechanism was finalized in r7 (xxhash64); an
    artifact derived under a different salted-hash definition is not
    comparable row-by-row and must be re-derived, exactly like an IVF
    store after retraining. salt=0 values have never changed."""
    if salt == 0:
        return _knuth_mod32(id_col) / F.lit(float(_2_32))
    return F.pmod(F.xxhash64(id_col, F.lit(salt)), F.lit(_2_32)) / F.lit(
        float(_2_32)
    )


def _knuth_mod32(id_col: Column) -> Column:
    """(id · KNUTH) mod 2³² without 64-bit overflow — the ONE
    multiplicative-hash kernel (``hash_uniform`` salt-0 and
    ``shard_of``). The naive ``id * KNUTH`` reaches 2⁶⁴ for ids ≥
    ~3.47e9 — real doc ids at the advertised scale — where it throws
    under Spark 4's default ANSI mode, or wraps NEGATIVE without it,
    making every sampling gate admit the doc at any rate and
    ``shard_of`` emit negative shard ids (r15 review). Split the
    2³²-reduced id into 16-bit halves so every intermediate stays
    under 2⁴⁸: (x·K) mod 2³² = ((x_hi·K mod 2³²)·2¹⁶ + x_lo·K) mod
    2³². Values are IDENTICAL to the direct expression wherever it
    does not overflow (all test SFs, and the DuckDB oracles' literal
    arithmetic), and negative ids now land in [0, 2³²) via pmod
    instead of going negative."""
    x = F.pmod(id_col, F.lit(_2_32))
    hi = F.floor(x / F.lit(1 << 16))
    lo = x % F.lit(1 << 16)
    t1 = F.pmod(
        F.pmod(hi * F.lit(KNUTH), F.lit(_2_32)) * F.lit(1 << 16), F.lit(_2_32)
    )
    t2 = F.pmod(lo * F.lit(KNUTH), F.lit(_2_32))
    return F.pmod(t1 + t2, F.lit(_2_32))


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    id_col: str = "doc_id",
    strata_col: str = "source",
) -> DataFrame:
    """Deterministic per-stratum sampling — the data-mixing primitive
    (sample web at 30%, books at 90%, ...). Keeps a row iff
    hash_uniform(id) < rate(stratum). Unlike ``df.sampleBy`` this is
    reproducible across retries, runs, and engines (the oracle applies
    the identical arithmetic).

    Plan: the rates map is a literal broadcast join (or CASE) on top of
    a single scan — map-only, zero shuffle.

    NULL ids fail loud in-plan (r7, aligning with the other two mixing
    gates): under the salt-0 multiplicative hash a NULL id propagates
    to a NULL comparison and the filter would silently drop the doc.
    """
    bad = {s: r for s, r in rates.items() if not 0.0 <= r <= 1.0}
    if bad:
        raise ValueError(f"sampling rates must be in [0, 1]: {bad}")
    spark = docs.sparkSession
    rates_df = spark.createDataFrame(
        list(rates.items()), schema=f"{strata_col} string, __rate double"
    )
    checked = _checked_not_null_id(docs, id_col, "stratified_sample")
    return (
        docs.join(F.broadcast(rates_df), strata_col, "inner")
        .filter(hash_uniform(checked) < F.col("__rate"))
        .drop("__rate")
    )


def shard_of(id_col: Column, n_shards: int) -> Column:
    """Deterministic shard id in [0, n_shards): multiplicative hash of
    the document id. Pure row function — stable across runs, retries,
    and input partitioning (unlike round-robin repartition). The
    overflow-safe kernel keeps the contract for negative and >2³¹ ids
    (the naive product went negative — shard=-K directories downstream
    readers never enumerate; r15 review)."""
    return (_knuth_mod32(id_col) % F.lit(n_shards)).cast("int")


def save_corpus_shards(
    docs: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
) -> None:
    """The assembly endpoint: write the curated corpus as ``n_shards``
    deterministic parquet shards (``shard=K/`` directories), each
    sorted by id — so a training job reads reproducible, evenly-sized,
    independently-consumable shards, and a re-run of the pipeline
    produces the identical layout.

    Plan: one hash shuffle into ``n_shards`` partitions + an in-
    partition sort, then a partitioned write. At 100 TB choose
    n_shards ≈ total_bytes / target_shard_bytes (e.g. ~1 GB shards →
    100k shards) and the same single shuffle holds; the multiplicative
    hash spreads sequential ids evenly, so no shard hot-spotting.
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    sharded = docs.withColumn("shard", shard_of(F.col(id_col), n_shards))
    # sort by (shard, id): hash partitioning puts multiple shard keys
    # in one task, and the partitioned writer REQUIRES shard ordering —
    # sorting by id alone would make the writer insert a second
    # full sort and leave within-file id order to sort stability
    (
        sharded.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", id_col)
        .write.partitionBy("shard")
        .mode("overwrite")
        .parquet(path)
    )


def _explode_slices(
    packed: DataFrame,
    seq_len: int,
    id_col: str,
    strata_col: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The slice arithmetic shared by ``sequence_manifest`` and the
    packed-shard writers: one row per (touched sequence, doc) from a
    ``pack_sequences``-shaped frame (id, stratum, n_tokens, seq_id,
    seq_offset [, carry...]) — columns (stratum, seq_id, id,
    start_in_seq, start_in_doc, slice_len [, carry...]), where
    ``seq_id`` is re-bound to the touched sequence. Zero-token / NULL
    docs emit nothing. Fan-out ∝ boundary crossings; ``carry``
    columns ride through the explode as references (no recompute)."""
    L = F.lit(seq_len).cast("bigint")
    cb = F.col("seq_id") * L + F.col("seq_offset")
    s_end = F.floor((cb + F.col("n_tokens") - 1) / L).cast("bigint")
    e = (
        packed.filter(F.col("n_tokens") >= 1)
        .withColumn("__cb", cb)
        .withColumn("__s", F.explode(F.sequence(F.col("seq_id"), s_end)))
    )
    s, b, n = F.col("__s"), F.col("__cb"), F.col("n_tokens")
    return e.select(
        F.col(strata_col),
        s.alias("__slice_seq"),
        F.col(id_col),
        F.greatest(F.lit(0), b - s * L).cast("bigint").alias("start_in_seq"),
        F.greatest(F.lit(0), s * L - b).cast("bigint").alias("start_in_doc"),
        (F.least((s + 1) * L, b + n) - F.greatest(s * L, b))
        .cast("bigint")
        .alias("slice_len"),
        *[F.col(c) for c in carry],
    ).withColumnRenamed("__slice_seq", "seq_id")


def packed_slice_rows(
    docs: DataFrame,
    packed: DataFrame,
    seq_len: int,
    seqs_per_shard: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "source",
) -> DataFrame:
    """The shard-row frame shared by ``save_packed_shards`` (batch)
    and the streaming ``pack_shards_step``: (stratum, shard, seq_id,
    id, start_in_seq, start_in_doc, slice_len, slice_text), one row
    per (sequence, contributing doc). ``packed`` must be a
    ``pack_sequences``-shaped frame over exactly these ``docs``
    (batch: the full-corpus window; streaming: the high-water-mark
    continuation), so sequence ids are the caller's concern.

    Validation, both fail-loud in-plan (lazy ``raise_error`` — no
    extra pass): NULL ids (an id-less doc can't be joined to its
    slices; silently dropping it would leave holes in written
    sequences) and DUPLICATE ids (the slice join would fan out,
    duplicating slice rows and corrupting shard token streams — the
    asymmetric silent half of the NULL check until r6).

    Tokenization is ONCE PER DOC: ``packed`` joins back to the text
    on the id (text crosses the wire once per doc), the token array
    is computed in a projection BEFORE the slice explode, and each
    slice row reads its span out of that array — a doc straddling k
    sequences costs O(doc_tokens + slice tokens), not k
    re-tokenizations (the r5 writer evaluated ``_tokens(text)`` per
    manifest row: O(doc_tokens × k) CPU on long docs). The dup-id
    window runs on the id-hashed side the join needs anyway, so the
    exchange is reused."""
    if seqs_per_shard <= 0:
        raise ValueError(f"seqs_per_shard must be positive, got {seqs_per_shard}")
    # NULL guard riding the inner join's inferred isnotnull(id)
    # filters: isnotnull(when(id isNull, raise).otherwise(id)) cannot
    # be satisfied without computing the when, so a NULL id raises
    # instead of being silently null-filtered out of the join. A guard
    # on the text column alone would never fire — Catalyst pushes the
    # not-null filter below the projection and drops the row first.
    #
    # BOTH join sides carry the guard, not just the packed side: under
    # AQE, if the un-guarded side's query stage materializes as EMPTY
    # first (its plain isnotnull(id) silently dropped the rows),
    # AQEPropagateEmptyRelation replaces the whole inner join before
    # the guarded side's stage ever runs — the raise never evaluates
    # and an all-NULL-id batch writes an empty shard set instead of
    # failing loud (observed as a run-order-dependent test flake: the
    # race goes the other way when the guarded stage materializes
    # first). With the guard on both sides, WHICHEVER stage runs
    # first evaluates its own raise.
    def checked_id(frame: DataFrame) -> F.Column:
        # the module-wide guard with this op's remedy text (one
        # kernel, not a drifting copy — r15 review)
        return _checked_not_null_id(
            frame,
            id_col,
            "packed shards",
            detail="slices cannot be joined back to an id-less "
            "document; assign ids upstream",
        )

    packed = packed.withColumn(id_col, checked_id(packed))
    docs = docs.withColumn(id_col, checked_id(docs))
    dup_w = Window.partitionBy(id_col)
    guarded_text = F.when(
        F.count(F.lit(1)).over(dup_w) > 1,
        F.raise_error(
            F.concat(
                F.lit(
                    f"packed shards: duplicate {id_col} "
                ),
                F.col(id_col).cast("string"),
                F.lit(
                    " — the slice join would fan out and corrupt shard "
                    "token streams; dedup ids upstream"
                ),
            )
        ).cast("string"),
    ).otherwise(F.col(text_col))
    doc_text = docs.select(F.col(id_col), guarded_text.alias(text_col))
    joined = packed.join(doc_text, id_col)
    with_toks = joined.select(
        F.col(id_col),
        F.col(strata_col),
        "n_tokens",
        "seq_id",
        "seq_offset",
        _tokens(F.col(text_col)).alias("__toks"),
    )
    sliced = _explode_slices(
        with_toks, seq_len, id_col, strata_col, carry=("__toks",)
    )
    slice_text = F.concat_ws(
        " ",
        F.slice(
            F.col("__toks"),
            F.col("start_in_doc").cast("int") + 1,  # slice() is 1-indexed
            F.col("slice_len").cast("int"),
        ),
    )
    return sliced.select(
        F.col(strata_col),
        F.floor(F.col("seq_id") / seqs_per_shard).cast("bigint").alias("shard"),
        "seq_id",
        F.col(id_col),
        "start_in_seq",
        "start_in_doc",
        "slice_len",
        slice_text.alias("slice_text"),
    )


def save_packed_shards(
    docs: DataFrame,
    path: str,
    seq_len: int,
    seqs_per_shard: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "source",
) -> None:
    """The packed-assembly endpoint: write ``stratum=S/shard=K/``
    parquet where shard K holds ``seqs_per_shard`` consecutive
    sequences, rows sorted by (seq_id, start_in_seq) — a training
    loader streams shard K top-to-bottom and materializes its
    sequences in order, never seeking. Each row stores ONLY its slice
    tokens (``slice_text``), not the whole document: the slices of a
    doc partition its token stream, so total output ≈ the corpus's
    token volume regardless of how many sequences a long doc
    straddles. ``slice_text`` is the NORMALIZED token stream —
    lowercased, whitespace-collapsed — the same kernel
    ``n_tokens``/``pack_sequences`` count, so slice boundaries and
    token positions agree exactly; a loader needing raw bytes should
    join ``sequence_manifest`` to its own text store instead.

    Plan: ``pack_sequences``'s stratum-window pass, a shuffle-join
    back to the doc text on the id (text crosses the wire ONCE per
    doc, tokenized ONCE per doc — see ``packed_slice_rows``), the
    slice explode + projection BEFORE the writer exchange so only
    slice tokens shuffle, then ONE hash shuffle into writer
    partitions with an in-partition (stratum, shard, seq_id,
    start_in_seq) sort — the ``save_corpus_shards`` discipline with
    the packing order as the sort key. Deterministic: reruns produce
    the identical layout. NULL and duplicate ids fail loud in-plan
    (``packed_slice_rows``)."""
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    packed = pack_sequences(
        docs, seq_len, id_col=id_col, text_col=text_col, strata_col=strata_col
    )
    sharded = packed_slice_rows(
        docs,
        packed,
        seq_len,
        seqs_per_shard,
        id_col=id_col,
        text_col=text_col,
        strata_col=strata_col,
    )
    (
        sharded.repartition(F.col(strata_col), F.col("shard"))
        .sortWithinPartitions(strata_col, "shard", "seq_id", "start_in_seq")
        .write.partitionBy(strata_col, "shard")
        .mode("overwrite")
        .parquet(path)
    )


def load_packed_sequences(
    spark,
    path: str,
    strata_col: str = "source",
) -> DataFrame:
    """The CONSUMER side of the packed-shard contract: read a
    ``save_packed_shards`` layout back and materialize one row per
    training sequence — (stratum, shard, seq_id, seq_text, n_tokens,
    n_slices). Slices are reassembled in ``start_in_seq`` order with
    a sort inside the per-sequence aggregate (array_sort on
    (start_in_seq, slice_text) structs — no window pass), so the
    result is correct regardless of file order; invariants
    (pytest-pinned): every sequence except a stratum's last has
    exactly seq_len tokens, and the concatenation per stratum equals
    the original corpus token stream.

    Plan at scale: the scan prunes to the shard partitions a trainer
    asks for (filter on ``stratum``/``shard`` partition columns before
    calling); one groupBy shuffle on (stratum, shard, seq_id) whose
    width is the requested slice of the corpus, not the whole store."""
    back = spark.read.parquet(path)
    assembled = (
        back.groupBy(F.col(strata_col), F.col("shard"), F.col("seq_id"))
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("start_in_seq"), F.col("slice_text")
                    )
                )
            ).alias("__slices"),
            F.sum("slice_len").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_slices"),
        )
    )
    seq_text = F.array_join(
        F.transform(F.col("__slices"), lambda s: s["slice_text"]), " "
    )
    return assembled.select(
        F.col(strata_col),
        F.col("shard").cast("bigint").alias("shard"),
        "seq_id",
        seq_text.alias("seq_text"),
        "n_tokens",
        "n_slices",
    )


def token_budget_cap(
    docs: DataFrame,
    budget_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "source",
) -> DataFrame:
    """Greedy per-stratum token-budget packing: rank each stratum's
    documents by quality (ties broken by id for determinism) and keep
    documents while the running token total stays within
    ``budget_tokens`` — how a fixed-size training mix is assembled from
    an oversized pool.

    Returns (id, stratum, n_tokens, cum_tokens) for kept docs.

    Plan: one shuffle on the stratum key into a window sort. Strata are
    coarse (sources/domains); when a single stratum outgrows one
    task's window at 100 TB, use ``token_budget_cap_scaled`` — the
    identical semantics via a two-phase prefix sum over quality bands
    (equality property-pinned).
    """
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be positive, got {budget_tokens}")
    t = F.col(text_col)
    scored = docs.select(
        F.col(id_col),
        F.col(strata_col),
        F.size(_tokens(t)).cast("bigint").alias("n_tokens"),
        quality_score(t).alias("__q"),
    )
    order = Window.partitionBy(strata_col).orderBy(F.desc("__q"), F.asc(id_col))
    w = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = _dup_tie_guard(
        order,
        [F.col(id_col), F.col("__q")],
        id_col,
        "token_budget_cap",
        F.sum("n_tokens").over(w),
    )
    return (
        scored.withColumn("cum_tokens", cum)
        .filter(F.col("cum_tokens") <= budget_tokens)
        .drop("__q")
    )


def _dup_tie_guard(
    order, tie_cols: list[Column], id_col: str, op: str, value: Column
) -> Column:
    """Determinism guard for the greedy window forms (r15 review, all
    FOUR budget/packing twins): two rows equal on every ``tie_cols``
    under ``order`` are interchangeable in the sort, so the running
    sum would admit a DIFFERENT physical row run-to-run at the cut
    boundary. Such rows are ADJACENT in ``order`` by construction
    (the tie columns are a prefix/whole of the sort key within the
    window's partition), so a lag comparison detects them with ZERO
    extra exchange — it rides the window sort the caller already
    pays. Returns ``value`` guarded: raises on a detected tie."""
    cond = None
    for c in tie_cols:
        e = F.lag(c).over(order).eqNullSafe(c)
        cond = e if cond is None else (cond & e)
    return F.when(
        cond,
        F.raise_error(
            F.concat(
                F.lit(
                    f"{op}: duplicate {id_col} at an order tie — the "
                    "greedy cut would be nondeterministic at the "
                    f"boundary; dedupe ids upstream: {id_col}="
                ),
                F.col(id_col).cast("string"),
            )
        ).cast("bigint"),
    ).otherwise(value)


def _two_phase_prefix_sum(
    counted: DataFrame,
    strata_col: str,
    piece_cols: list[str],
    piece_order: list,
    row_order: list,
    value_col: str,
    spill_dir: str | None = None,
) -> DataFrame:
    """The distributed running-sum kernel shared by the ``_scaled``
    curation twins: ``counted``'s columns plus ``__cum``, the
    per-stratum INCLUSIVE running sum of ``value_col`` in the order
    (pieces by ``piece_order``, rows by ``row_order`` within a piece)
    — byte-identical to a single ``partitionBy(stratum)`` window SUM
    over the composed order, including NULL semantics: NULL values
    contribute nothing, and ``__cum`` is NULL exactly when no non-NULL
    value sits at-or-before the row.

    Decomposition contract (the CALLER's obligation): the per-stratum
    global order must equal piece_order lexicographically, then
    row_order within a piece — i.e. every row of an earlier piece
    precedes every row of a later one.

    Plan: ``counted`` (a narrow post-projection frame — never raw
    text) is eagerly checkpointed so the local-window pass and the
    per-piece totals read ONE materialization instead of scanning and
    re-deriving the source twice; checkpoint blocks release on GC of
    the result. Fault-tolerance trade at cluster scale:
    ``localCheckpoint`` truncates lineage into EXECUTOR-LOCAL blocks,
    so losing an executor mid-job fails the job instead of recomputing
    (acceptable in local mode and for retry-from-scratch batch jobs).
    Pass ``spill_dir`` for the durable form: the narrow frame is
    written to storage once and re-read — the same one-scan plan with
    recomputable blocks, the right choice for a long multi-hour
    cluster run (the ``embedding_near_dups`` spill discipline)."""
    counted = pin(counted, spill_dir=spill_dir)
    return _two_phase_from_pinned(
        counted, strata_col, piece_cols, piece_order, row_order, value_col
    )


def _two_phase_from_pinned(
    counted: DataFrame,
    strata_col: str,
    piece_cols: list[str],
    piece_order: list,
    row_order: list,
    value_col: str,
) -> DataFrame:
    """The window/offset arithmetic of ``_two_phase_prefix_sum`` over
    an already-materialized narrow frame — see the public kernel above
    for the contract. Local windows parallelize over pieces; the
    per-piece totals frame (one row per non-empty piece) takes the
    prefix window and broadcasts back as piece offsets. Joins are
    null-safe: NULL strata/piece keys group and join like values,
    matching window-function semantics."""
    local_w = (
        Window.partitionBy(strata_col, *piece_cols)
        .orderBy(*row_order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = counted.withColumn("__local_cum", F.sum(value_col).over(local_w))
    totals = counted.groupBy(strata_col, *piece_cols).agg(
        F.sum(value_col).alias("__pt")
    )
    # STRICTLY-PRIOR frame (unboundedPreceding, -1): __off is NULL
    # exactly when no earlier piece holds a non-NULL value — including
    # the case where THIS piece has a non-NULL total but nothing before
    # it does (the "inclusive prefix minus own total" formulation
    # resolved that to 0, so a row whose at-or-before values within the
    # first piece were all NULL got __cum=0 where the single-window SUM
    # yields NULL)
    prior_w = (
        Window.partitionBy(strata_col)
        .orderBy(*piece_order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        F.col(strata_col),
        *[F.col(c) for c in piece_cols],
        F.sum("__pt").over(prior_w).alias("__off"),
    )
    l, o = local.alias("l"), offsets.alias("o")
    cond = F.col(f"l.{strata_col}").eqNullSafe(F.col(f"o.{strata_col}"))
    for c in piece_cols:
        cond = cond & F.col(f"l.{c}").eqNullSafe(F.col(f"o.{c}"))
    cum = F.when(
        F.col("__local_cum").isNull() & F.col("__off").isNull(), F.lit(None)
    ).otherwise(
        F.coalesce(F.col("__off"), F.lit(0))
        + F.coalesce(F.col("__local_cum"), F.lit(0))
    )
    return (
        l.join(F.broadcast(o), cond)
        .select("l.*", cum.cast("bigint").alias("__cum"))
        .drop("__local_cum")
    )


def token_budget_cap_scaled(
    docs: DataFrame,
    budget_tokens: int,
    substratum_width: int = 1_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "source",
    spill_dir: str | None = None,
) -> DataFrame:
    """``token_budget_cap``'s 100 TB form — identical greedy-prefix
    output (property-pinned, including NULL text and NULL strata),
    two-phase prefix-sum plan via ``_two_phase_prefix_sum``. The plain
    form sorts each stratum's ENTIRE pool through one window task;
    here a piece is (exact quality score, id-range chunk): score-desc
    piece order composes with the global (quality desc, id asc)
    ranking because ties share a score by definition and within one
    score the order IS the id — so chunking ties by
    ``floor(id / substratum_width)`` stays order-compatible and bounds
    every piece at ``substratum_width`` docs, even when billions of
    docs share one hot rounded score (quality_score rounds to 4
    decimals, so pure score-banding bottoms out at ~10^4 pieces and a
    hot score would re-concentrate a stratum; the id chunk is what
    actually carries the skew bound).

    Honest limits: the piece-totals frame holds one row per non-empty
    (stratum, score, chunk) — small when ids are roughly dense per
    stratum (the pipeline's canonical layout; ~docs/width + distinct
    scores rows). An adversarial corpus interleaving many scores
    uniformly across sparse ids inflates it toward one row per doc,
    at which point the broadcast and the piece prefix window need the
    same decomposition one level up (not implemented — raise
    ``substratum_width`` instead). ``spill_dir`` selects the kernel's
    durable materialization for executor-loss-tolerant cluster runs
    (see ``_two_phase_prefix_sum``)."""
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be positive, got {budget_tokens}")
    if substratum_width <= 0:
        raise ValueError(
            f"substratum_width must be positive, got {substratum_width}"
        )
    t = F.col(text_col)
    scored = docs.select(
        F.col(id_col),
        F.col(strata_col),
        F.size(_tokens(t)).cast("bigint").alias("n_tokens"),
        quality_score(t).alias("__q"),
        F.floor(F.col(id_col) / substratum_width).cast("bigint").alias("__sub"),
    )
    # the plain twin's determinism guard, scaled form (r15 fix-review
    # — the 'identical output' contract includes the raise): equal
    # (stratum, __q, id) rows share a piece, so the within-piece id
    # order makes them adjacent there
    dup_order = Window.partitionBy(strata_col, "__q", "__sub").orderBy(
        F.asc(id_col)
    )
    scored = scored.withColumn(
        "n_tokens",
        _dup_tie_guard(
            dup_order,
            [F.col(id_col)],
            id_col,
            "token_budget_cap_scaled",
            F.col("n_tokens"),
        ),
    )
    return (
        _two_phase_prefix_sum(
            scored,
            strata_col,
            ["__q", "__sub"],
            # desc NULLS LAST matches the plain window's quality order
            piece_order=[F.desc("__q"), F.asc("__sub")],
            row_order=[F.desc("__q"), F.asc(id_col)],
            value_col="n_tokens",
            spill_dir=spill_dir,
        )
        .withColumnRenamed("__cum", "cum_tokens")
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select(id_col, strata_col, "n_tokens", "cum_tokens")
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "source",
) -> DataFrame:
    """Concat-then-chunk sequence packing: the step AFTER selection
    (``token_budget_cap``) that turns a document pool into fixed-length
    training sequences. Per stratum, documents are concatenated in
    deterministic id order and the token stream is cut every
    ``seq_len`` tokens — the standard GPT-style pretraining layout,
    where a document may straddle a sequence boundary rather than
    waste padding.

    Returns (id, stratum, n_tokens, seq_id, seq_offset): the sequence
    the document STARTS in (``seq_id``, 0-based per stratum) and its
    token offset within it. A loader materializes sequence ``s`` by
    taking every doc with ``seq_id <= s`` whose span crosses
    ``s*seq_len`` — for contiguous reads, shard/sort by
    (stratum, seq_id), which this frame's window shuffle already
    clusters.

    Plan: identical shape to ``token_budget_cap`` — one shuffle on the
    stratum key into a window sort, the running-sum window over the
    SAME per-stratum ordering. When a single stratum outgrows one
    task's window, use ``pack_sequences_scaled`` — the identical
    semantics via a two-phase distributed prefix sum over bounded
    id-range sub-strata (equality property-pinned).
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    t = F.col(text_col)
    counted = docs.select(
        F.col(id_col),
        F.col(strata_col),
        F.size(_tokens(t)).cast("bigint").alias("n_tokens"),
    )
    order = Window.partitionBy(strata_col).orderBy(F.asc(id_col))
    w = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # id alone is the packing order, so ANY duplicate id in a stratum
    # is a nondeterministic concat order — guard like the budget twin
    # (r15 fix-review)
    cum_before = _dup_tie_guard(
        order,
        [F.col(id_col)],
        id_col,
        "pack_sequences",
        F.sum("n_tokens").over(w) - F.col("n_tokens"),
    )
    return counted.select(
        F.col(id_col),
        F.col(strata_col),
        "n_tokens",
        F.floor(cum_before / seq_len).cast("bigint").alias("seq_id"),
        (cum_before % seq_len).cast("bigint").alias("seq_offset"),
    )


def sequence_manifest(
    docs: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "source",
) -> DataFrame:
    """The loader-side contract of ``pack_sequences``: one row per
    (training sequence, contributing document) with the exact token
    slice — what a data loader joins against its shards to
    materialize sequence ``s`` without rescanning the corpus. A doc
    spanning a boundary appears once per sequence it touches; docs
    with zero tokens (or NULL text) occupy no slice and emit nothing.

    Returns (stratum, seq_id, id, start_in_seq, start_in_doc,
    slice_len): sequence ``seq_id`` holds tokens
    ``[start_in_doc, start_in_doc + slice_len)`` of the doc at
    position ``start_in_seq``. Invariants (pytest-pinned): slices
    tile each sequence exactly — every sequence except a stratum's
    last sums to ``seq_len`` — and per-doc slices concatenate to the
    whole doc.

    Plan: ``pack_sequences``'s stratum-window pass plus a per-row
    ``sequence``/``explode`` over the (usually 1-2) sequences each doc
    touches (``_explode_slices``, shared with the shard writers) —
    fan-out ∝ boundary crossings, no extra shuffle."""
    packed = pack_sequences(
        docs, seq_len, id_col=id_col, text_col=text_col, strata_col=strata_col
    )
    return _explode_slices(packed, seq_len, id_col, strata_col)


def pack_sequences_scaled(
    docs: DataFrame,
    seq_len: int,
    substratum_width: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "source",
    spill_dir: str | None = None,
) -> DataFrame:
    """``pack_sequences``'s 100 TB form as real code — identical
    output (property-pinned), different prefix-sum plan. The plain
    form's window puts each stratum's ENTIRE token stream through one
    task; here the classic two-phase distributed prefix sum replaces
    it:

    1. split every stratum into deterministic id-range sub-strata
       (``floor(id / substratum_width)`` — order-preserving, no
       quantile pass needed because the packing order IS the id);
    2. local pass: the running sum within each (stratum, sub-stratum)
       window — parallelism = number of sub-strata, each bounded by
       ``substratum_width`` docs regardless of stratum size;
    3. tiny aggregate: per-sub-stratum token totals (one row per
       sub-stratum — thousands, not billions), prefix-summed per
       stratum on that frame and broadcast-joined back as each
       sub-stratum's starting offset.

    Global position = sub-stratum offset + local running sum (both via
    ``_two_phase_prefix_sum`` — see its docstring for the one-scan
    checkpoint and NULL semantics), so the concat-then-chunk
    arithmetic is unchanged. Pick ``substratum_width`` so a width of
    docs fits one task comfortably (e.g. 1e6); skew is bounded by
    construction, not by hoping strata stay small. ``spill_dir``
    selects the kernel's durable materialization for
    executor-loss-tolerant cluster runs (see
    ``_two_phase_prefix_sum``)."""
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    if substratum_width <= 0:
        raise ValueError(
            f"substratum_width must be positive, got {substratum_width}"
        )
    t = F.col(text_col)
    counted = docs.select(
        F.col(id_col),
        F.col(strata_col),
        F.size(_tokens(t)).cast("bigint").alias("n_tokens"),
        F.floor(F.col(id_col) / substratum_width).cast("bigint").alias("__sub"),
    )
    # the plain twin's determinism guard, scaled form (r15 fix-review):
    # duplicate ids share an id-range piece, so the within-piece id
    # order makes them adjacent there
    dup_order = Window.partitionBy(strata_col, "__sub").orderBy(F.asc(id_col))
    counted = counted.withColumn(
        "n_tokens",
        _dup_tie_guard(
            dup_order,
            [F.col(id_col)],
            id_col,
            "pack_sequences_scaled",
            F.col("n_tokens"),
        ),
    )
    # cum_before = inclusive running sum minus own count; NULL-text
    # docs get NULL seq_id/seq_offset exactly like the window form
    # (the subtraction below propagates their NULL n_tokens)
    cb = F.col("__cum") - F.col("n_tokens")
    return _two_phase_prefix_sum(
        counted,
        strata_col,
        ["__sub"],
        piece_order=[F.asc("__sub")],
        row_order=[F.asc(id_col)],
        value_col="n_tokens",
        spill_dir=spill_dir,
    ).select(
        F.col(id_col),
        F.col(strata_col),
        "n_tokens",
        F.floor(cb / seq_len).cast("bigint").alias("seq_id"),
        (cb % seq_len).cast("bigint").alias("seq_offset"),
    )


def _checked_not_null_id(
    docs: DataFrame,
    id_col: str,
    op: str,
    detail: str = "deterministic hashing needs an id; assign ids upstream",
) -> Column:
    """The id column with a lazy in-plan NULL guard (raise_error rides
    the hash evaluation — no extra pass) — THE one NULL-id kernel
    (mixing ops, line dedup, packed shards); ``detail`` carries the
    op-specific remedy."""
    return F.when(
        F.col(id_col).isNull(),
        F.raise_error(F.lit(f"{op}: NULL {id_col} — {detail}")).cast(
            docs.schema[id_col].dataType
        ),
    ).otherwise(F.col(id_col))


def repeat_dataset(
    docs: DataFrame,
    epochs: dict[str, float],
    id_col: str = "doc_id",
    strata_col: str = "source",
    out_col: str = "repeat_idx",
) -> DataFrame:
    """Fractional-epoch upsampling — the mixing primitive for "train on
    2.5 epochs of wiki, 1.0 of web": every doc appears floor(e) times,
    plus one more copy for a deterministic hash_uniform(id, salt=1)
    fraction (e - floor(e)) of docs. Copies are distinguished by
    ``out_col`` (0..n-1) so a downstream re-id (e.g. id * max_epochs +
    repeat_idx) stays collision-free. Strata with e = 0 drop out;
    strata absent from ``epochs`` drop out too (same inner-join
    contract as ``stratified_sample``).

    The extra-copy gate uses salt=1 — INDEPENDENT of
    ``stratified_sample``'s salt-0 gate, so sampling then repeating
    does not hand every extra copy to the same low-hash documents.

    Plan: broadcast rates join + a bounded explode
    (sequence(0, n_copies-1)) — map-only, zero shuffle; output size is
    exactly sum(e_s × |stratum s|) rows in one pass at any scale.

    NULL ids fail loud in-plan (the repo's NULL-id discipline, same
    as packed_slice_rows). NOT because the hash propagates NULL:
    xxhash64 treats a NULL input as absent and returns a seed-derived
    CONSTANT, so unguarded NULL-id docs would all share one silent
    gate decision (every one of them repeated — or none) rather than
    being dropped; either way the doc's identity is gone and the
    answer is to assign ids upstream, loudly."""
    bad = {s: e for s, e in epochs.items() if e < 0}
    if bad:
        raise ValueError(f"epochs must be >= 0: {bad}")
    spark = docs.sparkSession
    rates_df = spark.createDataFrame(
        list(epochs.items()), schema=f"{strata_col} string, __epochs double"
    )
    checked_id = _checked_not_null_id(docs, id_col, "repeat_dataset")
    whole = F.floor(F.col("__epochs")).cast("int")
    extra = (
        hash_uniform(checked_id, salt=1)
        < (F.col("__epochs") - F.floor(F.col("__epochs")))
    ).cast("int")
    n_copies = (whole + extra).alias("__n")
    return (
        docs.join(F.broadcast(rates_df), strata_col, "inner")
        .withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        .withColumn(out_col, F.explode(F.sequence(F.lit(0), F.col("__n") - 1)))
        .drop("__epochs", "__n")
    )


def train_val_test_split(
    docs: DataFrame,
    fractions: tuple[float, float, float] = (0.98, 0.01, 0.01),
    id_col: str = "doc_id",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test labeling: one hash_uniform(id,
    salt=2) draw thresholded at the cumulative fractions — stable
    across runs, retries, engines, and input partitioning (an
    RNG-based split is none of those), and INDEPENDENT of the
    sampling (salt 0) and repetition (salt 1) gates. Map-only, zero
    shuffle; fractions must sum to 1.

    NULL ids fail loud in-plan. NOT because the hash propagates
    NULL: xxhash64 treats a NULL input as absent and returns a
    seed-derived constant, so every unguarded NULL-id doc would
    silently land in the SAME split (whichever bucket that constant
    falls in) — a correlated contamination of one split rather than a
    spread; assign ids upstream, loudly."""
    if abs(sum(fractions) - 1.0) > 1e-9 or any(f < 0 for f in fractions):
        raise ValueError(
            f"fractions must be non-negative and sum to 1: {fractions}"
        )
    u = hash_uniform(_checked_not_null_id(docs, id_col, "train_val_test_split"), salt=2)
    train, val, _test = fractions
    label = (
        F.when(u < F.lit(train), F.lit("train"))
        .when(u < F.lit(train + val), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.withColumn(out_col, label)


def epoch_shuffle(
    docs: DataFrame,
    epoch: int,
    n_shards: int,
    id_col: str = "doc_id",
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Deterministic per-epoch global shuffle WITHOUT a global sort:
    each row gets an (``epoch_shard``, ``epoch_pos``) pair from one
    avalanche hash of ("epoch_shuffle", id, *salt_cols, epoch) —
    reading shards in shard order, each sorted by ``epoch_pos``
    (``save_epoch_shards`` below materializes exactly that), visits
    the corpus in a reproducible pseudo-random permutation that is
    INDEPENDENT across epochs.

    What "no global sort" buys, precisely (measured, BASELINE.md r10
    addendum): a global ``orderBy`` runs the range partitioner's
    SAMPLING pass over the input first — a second execution of the
    entire uncached input lineage (measured 1.89× total wall on a
    quality-scored sf1 corpus; a tie on a small page-cached scan,
    honestly recorded). The hash exchange here reads the lineage
    once, with no sample job and no skew sensitivity to the key
    distribution — at 100 TB the input is never cacheable, so the
    avoided pass is an avoided full corpus read per epoch.

    Hash hygiene (all three are self-review catches): the literal
    domain tag keeps the epoch OUT of ``hash_uniform``'s salt space —
    a raw ``xxhash64(id, epoch)`` would make epoch 1's position key
    bit-identical to repeat_dataset's salt-1 gate draw and epoch 2's
    to the train/val/test draw, correlating the shuffle with the
    mixing decisions; the epoch rides INSIDE the avalanche (an
    additive ``hash(id)+epoch`` gives every epoch the SAME order
    shifted — perfectly correlated "shuffles"); and rows sharing an
    id share a position, so duplicated ids (e.g. ``repeat_dataset``
    copies) would read back-to-back every epoch — pass the
    distinguishing column via ``salt_cols=["repeat_idx"]`` to give
    each copy its own draw. NULL ids fail loud in-plan (the shared
    mixing-op guard)."""
    if n_shards <= 0:
        raise ValueError(f"epoch_shuffle: n_shards must be > 0 (got {n_shards})")
    h = F.xxhash64(
        F.lit("epoch_shuffle"),
        _checked_not_null_id(docs, id_col, "epoch_shuffle"),
        *[F.col(c) for c in (salt_cols or [])],
        F.lit(int(epoch)),
    )
    return docs.withColumn(
        "epoch_shard", F.pmod(h, F.lit(n_shards)).cast("int")
    ).withColumn("epoch_pos", h)


def save_epoch_shards(
    docs: DataFrame,
    path: str,
    epoch: int,
    n_shards: int,
    id_col: str = "doc_id",
    salt_cols: list[str] | None = None,
) -> None:
    """Materialize one epoch's shuffled order as ``epoch_shard=K/``
    parquet directories, rows in ``epoch_pos`` order with an id
    tie-break (64-bit hash collisions between distinct ids are rare
    but real at corpus scale — without the extra sort key their
    relative order would depend on sort stability across retries).
    Same single hash-shuffle + in-partition sort plan as
    ``save_corpus_shards``; run once per epoch into per-epoch paths."""
    sharded = epoch_shuffle(docs, epoch, n_shards, id_col, salt_cols)
    (
        sharded.repartition(n_shards, F.col("epoch_shard"))
        .sortWithinPartitions(
            "epoch_shard", "epoch_pos", *( [id_col] + list(salt_cols or []) )
        )
        .drop("epoch_pos")
        .write.partitionBy("epoch_shard")
        .mode("overwrite")
        .parquet(path)
    )


def semantic_contamination_report(
    corpus_emb: DataFrame,
    eval_emb: DataFrame,
    min_sim: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_same_id: bool = False,
) -> DataFrame:
    """SEMANTIC decontamination — the third screen in the family
    (exact 8-gram ``contamination_report``, fraction-based
    ``fuzzy_contamination_report``, and this): flag every (corpus
    doc, eval item) pair whose embedding cosine reaches ``min_sim``.
    Catches what both lexical screens miss — translations, heavy
    rewrites, and template re-renderings of benchmark items share
    almost no n-grams but land near the eval item in embedding space.

    Returns (id, eval_id, cosine_sim 6dp) for flagged pairs. By
    DEFAULT numerically-equal ids on both sides are NOT exempted
    (``exclude_same_id=False``): in the general composition the eval
    frame is a SEPARATE id space, and exempting id collisions would
    silently un-screen any corpus doc whose id happens to equal an
    eval id (r10 review) — and when the eval set IS drawn from the
    corpus, flagging the eval item's own corpus copy is the CORRECT
    verdict (eval items must not train). Pass
    ``exclude_same_id=True`` only when both frames share one id
    space AND the eval rows are intentionally kept in the corpus
    (the planted-oracle convention).

    SERVING CONTRACT (the ``brute_force_topk`` rule): this is the
    EXACT arm — cost is corpus × |eval| cosines, map-only behind a
    broadcast, which is the right call exactly because eval
    benchmarks are small (10²–10⁴ items); the caller owns keeping
    ``eval_emb`` bounded. For eval sets past broadcast scale, block
    first with the LSH/k-means machinery
    (``similarity.semantic_dedup_pairs`` / ``embedding_near_dups``)
    and verify the survivors here."""
    from .similarity import _as_double, cosine

    c = corpus_emb.select(
        F.col(id_col).alias("__cid"), _as_double(F.col(vec_col)).alias("__cv")
    )
    ev = eval_emb.select(
        F.col(id_col).alias("__eid"), _as_double(F.col(vec_col)).alias("__ev")
    )
    pairs = c.crossJoin(F.broadcast(ev))
    if exclude_same_id:
        pairs = pairs.filter(F.col("__cid") != F.col("__eid"))
    return (
        pairs
        .withColumn("__sim", F.round(cosine(F.col("__cv"), F.col("__ev")), 6))
        # threshold on the ROUNDED value so a cross-engine last-ulp
        # difference can never flip a boundary pair (the banding rule)
        .filter(F.col("__sim") >= F.lit(min_sim))
        .select(
            F.col("__cid").alias(id_col),
            F.col("__eid").alias("eval_id"),
            F.col("__sim").alias("cosine_sim"),
        )
    )
