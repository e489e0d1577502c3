"""Text-analysis functions for large-scale training-data pipelines.

All hot-path functions are pure Column expressions (JVM-side, codegen,
zero Python in the loop) so they run at 100 TB without serialization
overhead; each has an exact ANSI-SQL equivalent used by the DuckDB
oracle (see __spark_entry__.oracle_sql).

Capability superset relative to the reference: the reference has no
scalar function library at all (SURVEY §2.2) — users reach for host-
language functions inside transducers; here the host library IS
pyspark.sql.functions plus these domain helpers.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tokenization: whitespace split of trimmed text (BPE-ish word regex
# variant below). Keep the regex in sync with oracle SQL.
TOKEN_SPLIT_RE = r"\s+"
WORD_RE = r"[a-z0-9]+"

# Small distinctive stopword sets for the n-gram/stopword language-ID
# heuristic. Deterministic, order-free.
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "que", "pour"],
    "es": ["el", "la", "los", "y", "es", "una", "que", "por"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokens of trimmed, lowercased text."""
    return F.split(F.lower(F.trim(text)), TOKEN_SPLIT_RE)


def token_count(text: Column) -> Column:
    """Whitespace token count (the cheap token-count baseline)."""
    return F.size(tokens(text))


def word_token_count(text: Column) -> Column:
    """BPE-ish token estimate: count of [a-z0-9]+ word pieces — a
    regexp count, still fully JVM-side."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(WORD_RE), F.lit(0)))


def fake_bpe_tokenizer(texts):
    """Deterministic stand-in for a real subword tokenizer (the
    container ships no tiktoken/HF): token count = words + one extra
    piece per word longer than 6 chars — a crude 'long words split
    into subwords' model, good enough to test the plumbing."""
    out = []
    for t in texts:
        words = (t or "").lower().split()
        out.append(len(words) + sum(1 for w in words if len(w) > 6))
    return out


def token_count_udf(tokenizer=None):
    """Arrow-batched token counting through an INJECTED real tokenizer
    — the same discipline as multimodal's injected codecs: the cheap
    paths (``token_count`` whitespace, ``word_token_count`` BPE-ish
    regex) are pure Column expressions and cover most pipeline
    decisions, but budget enforcement against a REAL training
    tokenizer (tiktoken / HuggingFace) needs the actual vocab. Returns
    a pandas_udf Column factory: ``df.withColumn("n",
    token_count_udf(tok)(F.col("text")))``. ``tokenizer`` takes a
    list of strings and returns a list of ints (batch-at-a-time so
    fast tokenizers amortize); defaults to a stub that raises —
    inject ``fake_bpe_tokenizer`` in tests, e.g.
    ``lambda ts: [len(enc.encode(t or "")) for t in ts]`` in
    production. Plan shape: one Arrow-batched map stage, no shuffle —
    the same shape as the Column-tier counters. VALUES follow the
    injected tokenizer's conventions, which differ from the Column
    tier at the edges: the documented pattern counts NULL/empty text
    as 0, while ``token_count`` yields NULL for NULL text (and 1 for
    '' — split's empty-string artifact); budget filters comparing
    against NULL exclude those docs, a 0 passes them. Pick one
    convention per pipeline."""
    import pandas as pd

    def _count(ser):
        if tokenizer is None:
            raise NotImplementedError(
                "no subword tokenizer in this environment; inject one "
                "(tokenizer=) — e.g. tiktoken/HF encode-and-count"
            )
        return pd.Series(tokenizer(list(ser)), dtype="int64")

    return F.pandas_udf(_count, "long")


def avg_token_length(text: Column) -> Column:
    return F.length(F.regexp_replace(F.trim(text), r"\s+", "")) / F.greatest(
        token_count(text), F.lit(1)
    )


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not alphanumeric/whitespace."""
    cleaned = F.regexp_replace(text, r"[A-Za-z0-9\s]", "")
    return F.length(cleaned) / F.greatest(F.length(text), F.lit(1))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    toks = tokens(text)
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t))) / F.greatest(
        F.size(toks), F.lit(1)
    )


def _stopword_hits(toks: Column, words: list[str]) -> Column:
    """Count of tokens in the stopword list. NOTE: the membership lambda
    must close over the array — a default-arg lambda (``lambda t, ws=ws``)
    would be treated by PySpark as a two-arg (value, index) HOF lambda."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def lang_scores(text: Column) -> Column:
    """Map of language -> stopword-hit count."""
    toks = tokens(text)
    return F.map_from_arrays(
        F.array(*[F.lit(l) for l in LANG_STOPWORDS]),
        F.array(*[_stopword_hits(toks, ws) for ws in LANG_STOPWORDS.values()]),
    )


def lang_id(text: Column) -> Column:
    """Language ID heuristic: CJK script detection first (any Han char
    → 'zh'), else argmax language by stopword hits with deterministic
    tie-break in the fixed order en > de > fr > es; 'und' when no
    stopword hits at all."""
    toks = tokens(text)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    # iterate in reverse so earlier languages win ties
    for lang in reversed(list(LANG_STOPWORDS)):
        score = _stopword_hits(toks, LANG_STOPWORDS[lang])
        best_lang = F.when(score >= best_score, F.lit(lang)).otherwise(best_lang)
        best_score = F.greatest(score, best_score)
    has_cjk = F.regexp_like(text, F.lit("[一-鿿]"))
    return F.when(has_cjk, F.lit("zh")).otherwise(
        F.when(best_score > 0, best_lang).otherwise(F.lit("und"))
    )


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,1]: length band + punctuation
    penalty + stopword presence + mean-word-length band. Deterministic
    arithmetic over integers/doubles; rounded to 4 decimals so the
    DuckDB oracle hashes identically."""
    n = F.length(text)
    length_component = F.least(n / F.lit(500.0), F.lit(1.0)) * 0.4
    punct_component = (F.lit(1.0) - F.least(punct_ratio(text) * 10, F.lit(1.0))) * 0.2
    stop_component = F.least(stopword_ratio(text) * 5, F.lit(1.0)) * 0.2
    awl = avg_token_length(text)
    word_component = F.when((awl >= 3) & (awl <= 10), F.lit(0.2)).otherwise(F.lit(0.0))
    return F.round(length_component + punct_component + stop_component + word_component, 4)


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercased
    text — stable across formatting differences; md5 exists in both
    Spark and DuckDB so it is oracle-checkable."""
    normalized = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(normalized)


def winnow_fingerprints(
    text: Column, k: int = 5, window: int = 4
) -> Column:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03
    — the MOSS rolling-hash scheme): hash every ``k``-token shingle,
    then keep the MINIMUM hash of each ``window`` of consecutive
    shingle hashes; the distinct minima are the document's
    fingerprints. Guarantee: any shared run of at least
    ``k + window - 1`` tokens between two documents contributes at
    least one IDENTICAL fingerprint to both — so containment /
    local-overlap detection (which whole-doc md5 and bag-of-shingles
    MinHash both miss) becomes an equi-join on fingerprint values.

    Pure Column expression — per-row sliding-window minima over the
    shingle-hash array, zero Python, zero shuffle; at 100 TB the
    downstream overlap join is a (fingerprint → doc) explode +
    equi-join, the same scale shape as the LSH band join."""
    from .dedup import shingles  # local import to avoid a module cycle

    hashes_expr = F.transform(shingles(text, k), lambda s: F.xxhash64(s))

    def build(hashes):
        # `hashes` is a lambda-bound variable: the shingle+hash array
        # evaluates ONCE per row. Referencing the raw expression inside
        # the window transform instead re-computes the entire array per
        # window position (HOFs are interpreted — no CSE), turning the
        # linear scan quadratic; observed minutes-vs-seconds at sf0.1.
        n_win = F.greatest(F.size(hashes) - (window - 1), F.lit(0))
        idx = F.sequence(F.lit(0), n_win - 1)
        mins = F.when(
            n_win > 0,
            F.transform(
                idx, lambda i: F.array_min(F.slice(hashes, (i + 1).cast("int"), window))
            ),
        ).otherwise(F.array().cast("array<bigint>"))
        # a doc shorter than k+window-1 tokens still yields its global
        # min (standard winnowing edge: emit at least one fingerprint
        # if any shingle exists)
        fallback = F.when(
            F.size(hashes) > 0, F.array(F.array_min(hashes))
        ).otherwise(F.array().cast("array<bigint>"))
        return F.array_distinct(F.when(n_win > 0, mins).otherwise(fallback))

    return F.element_at(F.transform(F.array(hashes_expr), build), 1)


def check_chunk_geometry(chunk_size: int, overlap: int, op: str) -> None:
    """The ONE chunk-geometry validator — the batch kernel and the
    streaming step must reject identical configs (a duplicated
    predicate would drift and let a stream construct a step the batch
    kernel later rejects mid-stream)."""
    if chunk_size <= 0 or not (0 <= overlap < chunk_size):
        raise ValueError(
            f"{op}: need chunk_size > 0 and 0 <= overlap < "
            f"chunk_size (got {chunk_size}, {overlap})"
        )


def chunk_documents(
    docs: "DataFrame",
    chunk_size: int = 256,
    overlap: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """Token-window chunking — the retrieval-indexing / packing
    primitive: (id, chunk_id, chunk_tokens, chunk_text) rows where
    chunk i covers tokens [i*stride, i*stride + chunk_size) at
    stride = chunk_size - overlap, and the LAST chunk always reaches
    the document's end (ceiling division — a floor here silently
    drops the tail, the equal-frame-slices lesson). Chunk text joins
    the ORIGINAL whitespace tokens (trim-split only, no lowercasing —
    chunking must preserve text; the analysis tokenizer in
    ``tokens()`` is a different spec).

    Pure Column plan: one sequence+transform explode per document —
    map-only, output volume ≈ corpus × (1 + overlap/stride). A doc of
    ≤ chunk_size tokens yields exactly one chunk (itself)."""
    check_chunk_geometry(chunk_size, overlap, "chunk_documents")
    stride = chunk_size - overlap
    # NULL text behaves as the empty document — without the coalesce,
    # greatest/least SKIP the NULL token count and emit a phantom
    # full-size chunk with NULL text (chunk_tokens = chunk_size for a
    # document that has none; caught in self-review, and the DuckDB
    # oracle reproduced the same phantom, so parity could never see
    # it). The blank document then tokenizes to ZERO tokens — Spark's
    # split('') keeps the phantom '' element, which would report
    # chunk_tokens = 1 and overstate token budgets for blank docs —
    # yielding ONE chunk with chunk_tokens = 0 and empty
    # text (the one-row-per-doc cardinality contract holds).
    trimmed = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    toks = F.when(
        trimmed == "", F.array().cast("array<string>")
    ).otherwise(F.split(trimmed, TOKEN_SPLIT_RE))

    def chunks(t):
        n = F.size(t)
        # ceil((n - chunk_size) / stride) extra chunks after the first
        n_extra = F.greatest(
            F.ceil((n - F.lit(chunk_size)) / F.lit(stride)), F.lit(0)
        ).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_extra),
            lambda i: F.struct(
                i.cast("int").alias("chunk_id"),
                F.least(
                    F.lit(chunk_size), n - i * F.lit(stride)
                ).cast("int").alias("chunk_tokens"),
                F.array_join(
                    F.slice(t, (i * F.lit(stride) + 1).cast("int"), chunk_size),
                    " ",
                ).alias("chunk_text"),
            ),
        )

    bound = F.element_at(F.transform(F.array(toks), chunks), 1)
    return docs.select(
        F.col(id_col), F.explode(bound).alias("__c")
    ).select(
        id_col,
        F.col("__c.chunk_id").alias("chunk_id"),
        F.col("__c.chunk_tokens").alias("chunk_tokens"),
        F.col("__c.chunk_text").alias("chunk_text"),
    )


# Control characters to strip in text normalization: C0 controls plus
# DEL, EXCEPT \t \n \r (document structure the collapse step owns).
# ASCII-only BY DESIGN — it matches identically in Java regex (Spark)
# and RE2 (DuckDB), where \p{Cc} classes and \s differ (Java's \s
# includes \x0b, RE2's does not — both VT and FF are stripped HERE so
# the later \s+ collapse sees the same character set in both engines).
CONTROL_CHARS_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"


UNICODE_FORMS = ("NFC", "NFD", "NFKC", "NFKD")


def check_unicode_form(form: str, op: str) -> None:
    """The ONE valid-forms check — the batch kernel and the streaming
    step must accept identical configs (the check_chunk_geometry
    rule: a duplicated tuple drifts)."""
    if form not in UNICODE_FORMS:
        raise ValueError(f"{op}: unknown form {form!r}")


def unicode_normalize(text: Column, form: str = "NFC") -> Column:
    """Unicode normalization of a string column — the one text step
    Spark has no built-in for, so it runs as an Arrow-batched pandas
    UDF (unicodedata.normalize per batch; NULL passes through). NFC
    is the dedup-pipeline default: composed and decomposed spellings
    of the same glyph ('é' vs 'e'+U+0301) hash to DIFFERENT exact-dup
    fingerprints and DIFFERENT shingles until normalized — a corpus
    mixing both silently under-deduplicates. NFKC additionally folds
    compatibility forms (ligatures, fullwidth) — stronger recall,
    lossier text; keep the form part of any persisted fingerprint
    store's identity (the signature store contract)."""
    check_unicode_form(form, "unicode_normalize")
    import pandas as pd  # noqa: F401  (Arrow path requirement)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s):
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize(form, x) if x is not None else None
        )

    return _norm(text)


def normalize_text(
    text: Column,
    form: str | None = "NFC",
    strip_control: bool = True,
    collapse_ws: bool = True,
) -> Column:
    """The standard pre-dedup text cleanup, in the ONE order both
    engines reproduce (strip control → unicode form → collapse
    whitespace → trim): control bytes out first so the ASCII class is
    what both regex engines see, normalization before any comparison
    or fingerprinting, then runs of [ \\t\\n\\r] become single spaces.
    Everything except the optional ``form`` step is a pure JVM Column
    (``form=None`` skips the Arrow hop entirely — the fast path when
    the corpus is known-normalized). NULL text passes through NULL
    (the caller's contract to enforce, as everywhere)."""
    out = text
    if strip_control:
        out = F.regexp_replace(out, CONTROL_CHARS_RE, "")
    if form is not None:
        out = unicode_normalize(out, form)
    if collapse_ws:
        out = F.trim(F.regexp_replace(out, r"\s+", " "))
    return out
