"""Gopher/C4-style corpus quality and repetition filters.

Large-scale training-data pipelines bulk-filter raw text with cheap
document-level heuristics before any model-based scoring (Gopher,
Rae et al. 2021 §A1.1; C4, Raffel et al. 2020 §2.2). Everything here
is a pure per-row Column expression — quality metrics directly, and
repetition ratios via sorted-array run counting (``_run_stats``) —
zero Python and ZERO SHUFFLE: the whole module is a single map-only
stage, linear in corpus tokens, so the same code runs at 100 TB.

Capability superset relative to the reference: the reference
(DaveWM/willa) has no text-corpus operators at all — users would write
these as opaque transducer fns (src/willa/core.clj:90-101); here they
are first-class, oracle-checked relational operators.

Every metric has an exact DuckDB-SQL twin in willa_spark.queries so
the driver's oracle gate verifies values, not just plumbing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Gopher's "must contain >= 2 of these" English stopword rule
# (Rae et al. 2021, §A1.1). Kept tiny and fixed so the oracle SQL can
# inline the same list.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with", "a"]

# Gopher-style keep thresholds, tuned so the synthetic corpus exercises
# both branches (the paper's 50-word floor would keep ~everything or
# ~nothing depending on the corpus; the *shape* of the rule is what we
# replicate).
MIN_WORDS = 30
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 3.0
MAX_MEAN_WORD_LEN = 10.0
MIN_ALPHA_WORD_FRAC = 0.80
MAX_SYMBOL_WORD_RATIO = 0.10
MIN_STOPWORD_HITS = 2

# Repetition thresholds (Gopher §A1.1: top-2-gram char fraction < 0.20,
# duplicate-5-gram char fraction < 0.15; pseudo-line duplication stands
# in for Gopher's duplicate-line fraction on corpora without newlines).
MAX_TOP_BIGRAM_CHAR_FRAC = 0.20
MAX_DUP_5GRAM_CHAR_FRAC = 0.15
MAX_DUP_LINE_CHAR_FRAC = 0.30


def _tokens(text: Column) -> Column:
    return F.filter(F.split(F.lower(F.trim(text)), r"\s+"), lambda x: x != "")


def n_words(text: Column) -> Column:
    return F.size(_tokens(text))


def mean_word_len(text: Column) -> Column:
    """Mean characters per whitespace token, 4dp (matches oracle round)."""
    toks = _tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.round(total / F.greatest(F.size(toks), F.lit(1)), 4)


def alpha_word_frac(text: Column) -> Column:
    """Fraction of tokens containing at least one a-z letter, 4dp."""
    toks = _tokens(text)
    hits = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    return F.round(hits / F.greatest(F.size(toks), F.lit(1)), 4)


def symbol_word_ratio(text: Column) -> Column:
    """(# of '#' chars + # of '...' runs) per word — Gopher's symbol
    screen, 4dp."""
    hashes = F.length(text) - F.length(F.regexp_replace(text, r"#", ""))
    ellipses = F.size(F.regexp_extract_all(text, F.lit(r"\.\.\."), F.lit(0)))
    return F.round(
        (hashes + ellipses) / F.greatest(n_words(text), F.lit(1)), 4
    )


def stopword_hits(text: Column) -> Column:
    """Count of *distinct* Gopher stopwords present in the document."""
    toks = F.array_distinct(_tokens(text))
    sw = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))


def gopher_keep(text: Column) -> Column:
    """Gopher §A1.1 document-quality keep rule as one boolean Column."""
    return gopher_metrics(text)["kept"]


def _bind_tokens(text: Column, build) -> Column:
    """Evaluate the token array ONCE per row and bind it as a lambda
    variable for ``build``.  Higher-order functions are interpreted
    (no whole-stage codegen), so Catalyst's common-subexpression
    elimination does not reach into lambda bodies — without binding,
    every metric that mentions ``_tokens(text)`` re-splits the text.
    Wrapping the tokens in a 1-element array and computing the metric
    struct inside ``transform`` makes the split cost once-per-row
    regardless of how many metrics read it (~6× less tokenize work in
    the quality screen — the dominant map cost at 100 TB)."""
    return F.element_at(F.transform(F.array(_tokens(text)), build), 1)


def gopher_metrics(text: Column) -> Column:
    """All Gopher §A1.1 quality metrics + the combined keep flag as ONE
    struct Column ``(n_words, mean_word_len, alpha_word_frac,
    symbol_word_ratio, stopword_hits, kept)`` — a single tokenization
    per row (see ``_bind_tokens``).  Field formulas are identical to
    the standalone metric functions (same 4dp rounding)."""

    def build(toks):
        nw = F.size(toks)
        denom = F.greatest(nw, F.lit(1))
        total = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
        mwl = F.round(total / denom, 4)
        alpha = F.round(
            F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))) / denom, 4
        )
        hashes = F.length(text) - F.length(F.regexp_replace(text, r"#", ""))
        ellipses = F.size(F.regexp_extract_all(text, F.lit(r"\.\.\."), F.lit(0)))
        symr = F.round((hashes + ellipses) / denom, 4)
        sw = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
        hits = F.size(
            F.filter(F.array_distinct(toks), lambda x: F.array_contains(sw, x))
        )
        kept = (
            (nw >= MIN_WORDS)
            & (nw <= MAX_WORDS)
            & (mwl >= MIN_MEAN_WORD_LEN)
            & (mwl <= MAX_MEAN_WORD_LEN)
            & (alpha >= MIN_ALPHA_WORD_FRAC)
            & (symr <= MAX_SYMBOL_WORD_RATIO)
            & (hits >= MIN_STOPWORD_HITS)
        )
        return F.struct(
            nw.alias("n_words"),
            mwl.alias("mean_word_len"),
            alpha.alias("alpha_word_frac"),
            symr.alias("symbol_word_ratio"),
            hits.alias("stopword_hits"),
            kept.alias("kept"),
        )

    return _bind_tokens(text, build)


def _ngrams(toks: Column, n: int) -> Column:
    """Word n-grams joined by single spaces; empty array when the doc is
    shorter than n tokens. Pure zip_with over shifted slices."""
    size = F.size(toks)
    gram = F.slice(toks, 1, F.greatest(size - (n - 1), F.lit(0)))
    for i in range(1, n):
        gram = F.zip_with(
            gram,
            F.slice(toks, 1 + i, F.greatest(size - (n - 1), F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(size >= n, gram).otherwise(F.array().cast("array<string>"))


def plant_repeated_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    every: int = 50,
    offset: int = 1_000_000,
    first_n: int = 10,
    reps: int = 8,
) -> DataFrame:
    """Union docs with planted highly-repetitive copies (every Nth doc's
    first ``first_n`` tokens repeated ``reps`` times, re-keyed +offset).
    The synthetic corpus has no duplicated 5-grams or pseudo-lines, so
    without planting, the repetition screens would be vacuously green —
    the planted docs make the dup-ngram and dup-line branches
    observable end-to-end."""
    toks = _tokens(F.col(text_col))
    repeated = F.repeat(
        F.concat(F.array_join(F.slice(toks, 1, first_n), " "), F.lit(" ")), reps
    )
    planted = docs.filter(F.col(id_col) % every == 0).select(
        (F.col(id_col) + F.lit(offset)).alias(id_col), repeated.alias(text_col)
    )
    return docs.select(id_col, text_col).unionByName(planted)


def _run_stats(grams: Column) -> Column:
    """Single-pass run-length scan over the SORTED copy of ``grams``:
    ``struct(best, dupsum)`` where ``best`` = max over distinct grams
    of count*len(gram) and ``dupsum`` = sum over grams occurring more
    than once of count*len(gram).  Equal grams are adjacent after the
    sort, so one linear fold recovers every per-gram count — the
    per-document equivalent of groupBy(gram).count() with NO explode,
    NO shuffle, and NO Python: the whole metric is a map-only Column
    expression, which is what a 100 TB repetition screen wants (the
    old explode+two-shuffle formulation materialized ~7 rows per
    corpus token; this touches each token once, in place).
    """
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("best"),
        F.lit(0).cast("bigint").alias("dupsum"),
    )

    def step(acc, g):
        eq = acc["prev"].isNotNull() & (g == acc["prev"])
        run = F.when(eq, acc["run"] + F.lit(1)).otherwise(F.lit(1)).cast("bigint")
        glen = F.length(g).cast("bigint")
        # a run reaching 2 retroactively counts its first member too
        dup_add = (
            F.when(run == 2, F.lit(2) * glen).when(run > 2, glen).otherwise(F.lit(0))
        )
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run * glen).alias("best"),
            (acc["dupsum"] + dup_add).cast("bigint").alias("dupsum"),
        )

    return F.aggregate(F.array_sort(grams), init, step)


def top_ngram_char_frac(text: Column, n: int = 2) -> Column:
    """Fraction of the doc's normalized characters covered by its single
    most frequent ``n``-gram, 4dp. Pure map-side Column expression."""
    toks = _tokens(text)
    total_chars = F.length(F.array_join(toks, " "))
    return F.round(
        _run_stats(_ngrams(toks, n))["best"] / F.greatest(total_chars, F.lit(1)), 4
    )


def dup_ngram_char_frac(text: Column, n: int = 5) -> Column:
    """Fraction of the doc's normalized characters covered by all
    ``n``-grams occurring more than once, 4dp. Map-side Column expr."""
    toks = _tokens(text)
    total_chars = F.length(F.array_join(toks, " "))
    return F.round(
        _run_stats(_ngrams(toks, n))["dupsum"] / F.greatest(total_chars, F.lit(1)), 4
    )


def repetition_metrics(text: Column, top_n: int = 2, dup_n: int = 5) -> Column:
    """Both repetition ratios + the token count as ONE struct Column
    ``(n_words, top_ngram_char_frac, dup_ngram_char_frac)`` with a
    single tokenization per row (see ``_bind_tokens``); formulas match
    the standalone frac functions exactly."""

    def build(toks):
        total_chars = F.greatest(F.length(F.array_join(toks, " ")), F.lit(1))
        top = F.round(_run_stats(_ngrams(toks, top_n))["best"] / total_chars, 4)
        dup = F.round(_run_stats(_ngrams(toks, dup_n))["dupsum"] / total_chars, 4)
        return F.struct(
            F.size(toks).alias("n_words"),
            top.alias("top_ngram_char_frac"),
            dup.alias("dup_ngram_char_frac"),
        )

    return _bind_tokens(text, build)


def ngram_char_fracs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 2,
    dup_n: int = 5,
) -> DataFrame:
    """Per-document repetition ratios (Gopher §A1.1):

    - ``top_ngram_char_frac``: fraction of the doc's normalized
      characters covered by the single most frequent ``top_n``-gram
      (count * gram_chars / total_chars).
    - ``dup_ngram_char_frac``: fraction covered by all ``dup_n``-grams
      occurring more than once.

    Plan: the metrics are per-document, so they are computed WITHIN
    each row (sorted-array run counting, see ``_run_stats``) — a
    single map-only stage, zero shuffle, zero Python, linear in corpus
    tokens. Docs shorter than ``top_n`` tokens emit no row (they have
    no n-grams — same semantics as the explode formulation and the
    DuckDB oracle).
    """
    # struct first, filter + expand second: CollapseProject refuses to
    # inline the (non-cheap) struct into per-field accesses, so the
    # metrics — and the tokenization inside — run once per row
    m = docs.select(
        F.col(id_col),
        repetition_metrics(F.col(text_col), top_n, dup_n).alias("__m"),
    )
    return m.filter(F.col("__m.n_words") >= min(top_n, dup_n)).select(
        id_col,
        F.col("__m.top_ngram_char_frac").alias("top_ngram_char_frac"),
        F.col("__m.dup_ngram_char_frac").alias("dup_ngram_char_frac"),
    )


def _pseudo_lines(text: Column, tokens_per_line: int) -> Column:
    # token array lambda-bound: referencing _tokens(text) inside the
    # per-line lambda would re-split the text once per line (see
    # _bind_tokens)
    def build(toks):
        n = F.size(toks)
        k = F.lit(tokens_per_line)
        n_lines = F.ceil(n / k.cast("double")).cast("int")
        return F.when(
            n > 0,
            F.transform(
                F.sequence(F.lit(0), n_lines - 1),
                lambda i: F.array_join(F.slice(toks, i * k + 1, k), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return _bind_tokens(text, build)


def dup_line_metrics(text: Column, tokens_per_line: int = 8) -> Column:
    """Duplicate-pseudo-line stats as ONE struct Column ``(n, frac)``
    — the Column-level core shared by ``dup_line_char_frac`` and the
    streaming curation pipeline, so the formula exists exactly once
    (the batch/streaming congruity and the DuckDB oracle both depend
    on the two call sites staying character-identical)."""

    def build(lines):
        total = F.aggregate(
            lines, F.lit(0).cast("bigint"), lambda acc, l: acc + F.length(l)
        )
        return F.struct(
            F.size(lines).alias("n"),
            F.round(
                _run_stats(lines)["dupsum"] / F.greatest(total, F.lit(1)), 4
            ).alias("frac"),
        )

    return F.element_at(
        F.transform(F.array(_pseudo_lines(text, tokens_per_line)), build), 1
    )


def dup_line_char_frac(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_per_line: int = 8,
) -> DataFrame:
    """Per-document duplicate-line character fraction over deterministic
    pseudo-lines (fixed ``tokens_per_line``-token chunks). Stands in for
    Gopher's duplicate-line rule on corpora without newlines; with real
    newline-delimited text, split on newlines upstream instead.

    Plan: map-only sorted-array run counting within each row (see
    ``_run_stats``) — no explode, no shuffle. Empty docs emit no row
    (no lines — matches the explode/oracle semantics).
    """
    # the line array is LAMBDA-BOUND inside dup_line_metrics so the
    # tokenize+chunk pass runs once per row no matter how many metrics
    # read it (see _bind_tokens for why HOFs defeat CSE)
    m = dup_line_metrics(F.col(text_col), tokens_per_line)
    return (
        docs.select(F.col(id_col), m.alias("__m"))
        .filter(F.col("__m.n") > 0)
        .select(F.col(id_col), F.col("__m.frac").alias("dup_line_char_frac"))
    )


# ------------------------------------------------------- line screens
# Line-level boilerplate stripping (RefinedWeb, Penedo et al. 2023
# §3.1.3 line-wise filters; C4's line rules, Raffel et al. 2020 §2.2;
# the jusText idea reduced to text-only heuristics). Operates on REAL
# newline lines — the complement of the pseudo-line DUPLICATION
# metrics above (those catch repeated content; this catches
# navigation/menu/counter lines that are unique but worthless).
# Thresholds are module constants so the DuckDB oracle inlines the
# same numbers.
BP_MIN_LINE_WORDS = 4          # C4 drops short lines (<4 words here)
BP_MAX_UPPER_FRAC = 0.6        # MENU / NAV / header lines
BP_MAX_DIGIT_FRAC = 0.5        # counters, timestamps, page numbers
BP_BULLET_RE = r"^\s*([-*•]|[0-9]+[.)])\s"  # list/nav bullets


def line_keep(line: Column) -> Column:
    """Boolean keep-predicate for one line — pure Column arithmetic
    over exact integer counts (regexp_count), so the boolean is
    engine-exact: a line survives iff it has ≥ BP_MIN_LINE_WORDS
    words, ≤ BP_MAX_UPPER_FRAC uppercase share of its letters,
    ≤ BP_MAX_DIGIT_FRAC digit share of its characters, and no
    bullet/enumeration prefix."""
    # the module's ONE tokenization (n_words) — lower-casing is
    # count-irrelevant, and a second copy of the split would let the
    # line-level word floor drift from the document metrics
    words = n_words(line)
    letters = F.greatest(F.regexp_count(line, F.lit(r"[A-Za-z]")), F.lit(1))
    upper = F.regexp_count(line, F.lit(r"[A-Z]"))
    digits = F.regexp_count(line, F.lit(r"[0-9]"))
    chars = F.greatest(F.length(line), F.lit(1))
    return (
        (words >= BP_MIN_LINE_WORDS)
        & (upper / letters <= BP_MAX_UPPER_FRAC)
        & (digits / chars <= BP_MAX_DIGIT_FRAC)
        & ~line.rlike(BP_BULLET_RE)
    )


def strip_boilerplate(text: Column) -> Column:
    """(text, n_lines, n_kept) — the document with its boilerplate
    lines removed (kept lines re-joined with ``\\n``) plus the
    before/after line counts. The LINE ARRAY is lambda-bound (the
    ``_bind_tokens`` discipline): split once per row, then the filter
    and both counts read the bound array — pure map-only Column work,
    zero shuffle, linear in corpus characters, so the same expression
    runs at 100 TB. A document whose every line is boilerplate comes
    back as the empty string with n_kept = 0 (the document-level
    screens upstream/downstream own dropping it — this operator only
    edits; an edit silently deleting the doc row would break
    id-keyed joins). NULL text fails LOUD in-plan (the
    transition_pairs / roc_auc convention: split(NULL)
    is NULL, so the struct would come back NULL and the doc would
    silently fall out at the downstream doc screens — exactly the
    silent delete this operator's contract forbids)."""
    checked = F.when(
        text.isNull(),
        F.raise_error(
            F.lit(
                "strip_boilerplate: NULL text — impute or filter "
                "upstream; a NULL doc would return a NULL struct and "
                "silently vanish at the downstream document screens"
            )
        ).cast("string"),
    ).otherwise(text)

    def build(lines):
        kept = F.filter(lines, line_keep)
        return F.struct(
            F.array_join(kept, "\n").alias("text"),
            F.size(lines).alias("n_lines"),
            F.size(kept).alias("n_kept"),
        )

    return F.element_at(
        F.transform(F.array(F.split(checked, r"\n")), build), 1
    )
