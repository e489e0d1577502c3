"""Distributed BPE tokenizer training and encoding (Sennrich et al.
2016) — the tokenizer-FITTING operator a training-data pipeline runs
before token budgeting, packing, and mixing decisions can use real
token counts instead of whitespace proxies.

Spark-first shape (the part that matters at 100 TB):

- Training operates on the DISTINCT-WORD COUNT table, never the
  corpus: one (word, count) aggregation up front, then every merge
  round touches |vocab| rows (Zipf: orders of magnitude below corpus
  volume). This is how the reference BPE implementations work too —
  the corpus appears exactly once, in the initial word count.
- Each round is: (a) weighted adjacent-pair counts via one JVM-side
  transform+explode partial agg, (b) ONE row collected to the driver
  (the argmax pair — the bounded-collect pattern shared with k-means
  centroids and the union-find cap probe), (c) the merge applied to
  the symbol arrays by a linear ``F.aggregate`` fold (left-to-right
  non-overlapping, matching the classic implementations), then
  a LAZY ``localCheckpoint`` so the plan never deepens with the round
  count (the next round's collect materializes it inside its own job —
  one job per round, not two). Rounds are sequential BY THE ALGORITHM
  (merge k+1 depends on merge k) — the parallelism is within each round.
- Encoding NEVER runs per corpus token: ``segment_words`` applies the
  merge list to the distinct-word table (same fold kernel, one
  checkpointed pass per symbol-disjoint merge BATCH — O(|batches|)
  jobs, not O(|merges|)), and ``bpe_encode_docs`` /
  ``bpe_token_counts`` join that (word → pieces) mapping back onto
  the exploded corpus — broadcast under the vocab-count guard
  (``BROADCAST_VOCAB_MAX_WORDS``), shuffle join above it (web-scale
  distinct-word tables reach 1e8+ rows; a FORCED broadcast hint there
  would OOM executors and rob AQE of its fallback). No Python UDF
  anywhere — every step is JVM Column logic.

Determinism contract (pinned by the pure-Python differential tests):
pair counts include overlapping occurrences ("aaaa" counts (a,a)
three times) while merges apply left-to-right non-overlapping
("aaaa" -> "aa"+"aa") — exactly the classic subword-nmt behavior;
the argmax tie-break is (count desc, pair lexicographically asc),
identical in Spark (UTF8 binary order) and Python (code-point order —
UTF-8 preserves it). Symbols start as single characters plus a
standalone end-of-word marker ``EOW``; empty words are excluded by
``word_counts`` (the spec — a zero-char word has no pair structure).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens

# End-of-word marker: a standalone final symbol, so a word-final piece
# and the same piece mid-word stay distinct (the Sennrich motivation).
# CONTRACT: corpus words containing the literal marker string would
# alias it; exotic enough to document rather than escape.
EOW = "</w>"


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, count) over whitespace tokens — the one corpus-volume
    pass in BPE training. Empty-string tokens are excluded (spec:
    no pair structure; also keeps the Python differential oracle
    trivially aligned)."""
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def _initial_symbols(word_col) -> F.Column:
    # split between every pair of code points; the lookaheads exclude
    # the start AND end boundaries (Spark's split keeps trailing empty
    # strings — a bare '(?!^)' leaves a phantom '' final symbol that a
    # frequent ('', EOW) pair would then "learn")
    return F.concat(F.split(word_col, r"(?!^)(?!$)"), F.array(F.lit(EOW)))


def _apply_merge(sym_col, a: str, b: str) -> F.Column:
    """Left-to-right non-overlapping collapse of adjacent (a, b) into
    a+b, as one linear JVM fold: the accumulator carries the emitted
    prefix and the single pending symbol; a merge REPLACES the pending
    symbol, so a merged token can never re-merge its own tail within
    the same round (the non-overlap rule)."""
    merged = a + b
    empty = F.array().cast("array<string>")
    acc0 = F.struct(
        empty.alias("out"), F.lit(None).cast("string").alias("prev")
    )

    def step(acc, s):
        flush = F.when(
            acc["prev"].isNull(), acc["out"]
        ).otherwise(F.concat(acc["out"], F.array(acc["prev"])))
        return F.when(
            (acc["prev"] == F.lit(a)) & (s == F.lit(b)),
            F.struct(acc["out"].alias("out"), F.lit(merged).alias("prev")),
        ).otherwise(F.struct(flush.alias("out"), s.alias("prev")))

    def finish(acc):
        return F.when(acc["prev"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["prev"]))
        )

    return F.aggregate(sym_col, acc0, step, finish)


def _merge_batches(
    merges: list[tuple[str, str]], max_batch: int = 32
) -> list[list[tuple[str, str]]]:
    """CONTIGUOUS batches of pairwise symbol-disjoint merges — the
    unit ``segment_words`` applies per checkpointed pass, so encoding
    a production-size merge list costs O(|batches|) Spark jobs instead
    of O(|merges|) (~32k sequential jobs per micro-batch).

    Batching is provably semantics-preserving for DISJOINT merges
    (no symbol of one — a, b, OR the output a+b — appears in
    another): a merge rewrites two adjacent symbols into one NEW
    symbol, so it can neither create a disjoint pair's adjacency
    (symbols are merged, never deleted — non-adjacent stays
    non-adjacent) nor destroy one (it can't consume the other pair's
    symbols), and within one combined left-to-right pass at most one
    batch rule can match any position, resolving each rule's matches
    exactly as its solo pass would. Interacting merges (shared
    symbols — e.g. (e,r) then (er,EOW)) still get sequential passes:
    the batch breaks at the first merge whose symbols intersect the
    batch's. ``max_batch`` bounds the chained-CASE expression size in
    the combined fold (codegen discipline)."""
    batches: list[list[tuple[str, str]]] = []
    cur: list[tuple[str, str]] = []
    syms: set[str] = set()
    for a, b in merges:
        s = {a, b, a + b}
        if cur and (s & syms or len(cur) >= max_batch):
            batches.append(cur)
            cur, syms = [], set()
        cur.append((a, b))
        syms |= s
    if cur:
        batches.append(cur)
    return batches


def _apply_merge_batch(sym_col, batch: list[tuple[str, str]]) -> F.Column:
    """One left-to-right pass applying every merge in a
    symbol-disjoint ``_merge_batches`` batch: the single-merge fold
    with the match test widened to a first-match CASE over the batch
    (at most one rule can match — symbols are disjoint — so 'first'
    is not a tie-break, just expression form)."""
    if len(batch) == 1:
        return _apply_merge(sym_col, *batch[0])
    empty = F.array().cast("array<string>")
    acc0 = F.struct(
        empty.alias("out"), F.lit(None).cast("string").alias("prev")
    )

    def step(acc, s):
        flush = F.when(
            acc["prev"].isNull(), acc["out"]
        ).otherwise(F.concat(acc["out"], F.array(acc["prev"])))
        expr = F.struct(flush.alias("out"), s.alias("prev"))
        for a, b in reversed(batch):
            expr = F.when(
                (acc["prev"] == F.lit(a)) & (s == F.lit(b)),
                F.struct(acc["out"].alias("out"), F.lit(a + b).alias("prev")),
            ).otherwise(expr)
        return expr

    def finish(acc):
        return F.when(acc["prev"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["prev"]))
        )

    return F.aggregate(sym_col, acc0, step, finish)


def _pair_counts(symframe: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over (sym array<string>, count):
    overlapping occurrences all count (the classic get_stats)."""
    n = F.size("sym")
    pairs = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at("sym", i).alias("a"),
                F.element_at("sym", i + 1).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    return (
        symframe.select(F.col("count"), F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("count").alias("pair_count"))
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    min_count: int = 2,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` BPE merges from the corpus; stops
    early when the best remaining pair falls below ``min_count``.
    Returns the ordered merge list — driver-side CONFIG, like k-means
    centroids (one (a, b, count) row crosses to the driver per round;
    everything else stays distributed). Feed it to ``segment_words``
    / ``bpe_encode_docs`` / ``bpe_token_counts``."""
    words = word_counts(docs, text_col).select(
        _initial_symbols(F.col("word")).alias("sym"), "count"
    )
    # LAZY checkpoints throughout the round loop: each round's
    # argmax collect materializes the pending checkpoint as part of
    # its own job, so a round costs ONE Spark job instead of two
    # (collect + eager-checkpoint). Identical computation and blocks —
    # only the materialization rides the next action instead of a
    # dedicated dispatch. At sf0.1 this halved the row's job count
    # (16 merge rounds); at scale it saves a scheduler round trip per
    # merge with the same O(vocab) checkpoint state.
    words = words.localCheckpoint(eager=False)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            _pair_counts(words)
            .orderBy(
                F.col("pair_count").desc(), F.col("a").asc(), F.col("b").asc()
            )
            .limit(1)
            .collect()
        )
        if not top or top[0]["pair_count"] < min_count:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        # rebinding drops the previous round's only reference: a
        # localCheckpoint's blocks are NOT released by unpersist()
        # (the cache manager has no entry for its LogicalRDD plan) —
        # they free when the ContextCleaner collects the dropped
        # reference, so live checkpoint state stays O(vocab), not
        # O(rounds x vocab), without a fake explicit release
        words = words.select(
            _apply_merge(F.col("sym"), a, b).alias("sym"), "count"
        ).localCheckpoint(eager=False)
    return merges


def segment_words(words: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """(word, pieces array<string>) for a distinct-word frame: the
    merge list applied IN ORDER, one checkpointed pass per
    symbol-DISJOINT batch (``_merge_batches`` — provably equivalent to
    the per-merge passes training used; the differential pin runs
    both). Job count is O(|batches|), not O(|merges|): interacting
    chains (the early high-frequency merges) still sequence, but a
    production-size merge list's long disjoint tail folds ~32 merges
    per pass. This is the vocabulary-sized half of encoding — corpus
    volume never enters here."""
    # lazy checkpoints, as in bpe_train's round loop: the
    # caller's first action (usually _vocab_hint's count probe)
    # materializes the whole batch chain in one job instead of one
    # job per batch, with the same blocks cached afterwards
    seg = words.select(
        "word", _initial_symbols(F.col("word")).alias("pieces")
    ).localCheckpoint(eager=False)
    for batch in _merge_batches(merges):
        # rebind-and-GC release, same as bpe_train's round loop
        seg = seg.select(
            "word", _apply_merge_batch(F.col("pieces"), batch).alias("pieces")
        ).localCheckpoint(eager=False)
    return seg


# Auto-broadcast ceiling for the (word -> pieces) mapping: below this
# many distinct words the hint is forced (a few-hundred-MB map at
# worst — the Zipf common case); above it the hint is DROPPED so the
# join plans as a shuffle join (AQE can still convert it back at
# runtime if actual sizes allow). Web-scale corpora DO blow past this
# (URLs, typos, code identifiers push distinct words to 1e8+), and a
# forced broadcast there would OOM every executor — that is exactly
# when the shuffle-join fallback is the right call.
BROADCAST_VOCAB_MAX_WORDS = 1_000_000


def _vocab_hint(seg: DataFrame, broadcast_vocab: bool | None) -> DataFrame:
    """Apply (or withhold) the broadcast hint on the segmented-vocab
    frame. ``None`` = auto: count the (already-materialized,
    localCheckpointed) word table — one cheap job over cached blocks —
    and broadcast iff it is under ``BROADCAST_VOCAB_MAX_WORDS``.

    DELIBERATE EAGERNESS: auto mode runs that count
    DURING plan construction — one extra Spark job per
    ``bpe_encode_docs``/``bpe_token_counts`` call, re-paid on each
    invocation because every call re-segments its own vocab frame
    (there is no cross-call frame to memoize on). Accepted: the count
    scans checkpointed blocks only, and the alternative (plan-stats
    size estimates on a LogicalRDD) is not reliable enough to gate an
    executor-OOM-risking broadcast. Callers encoding in a loop with a
    known vocab scale should pass ``broadcast_vocab`` explicitly and
    skip the probe."""
    if broadcast_vocab is None:
        broadcast_vocab = seg.count() <= BROADCAST_VOCAB_MAX_WORDS
    return F.broadcast(seg) if broadcast_vocab else seg


def bpe_encode_docs(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_vocab: bool | None = None,
) -> DataFrame:
    """(id, pieces array<string>) per document: tokenize, segment the
    DISTINCT words once, join the (word → pieces) mapping back onto
    the positions, and reassemble in token order. The corpus-volume
    work is one explode + one join + one per-doc partial agg — no
    per-token Python, no vocabulary-sized shuffle of the corpus.

    ``broadcast_vocab``: True forces the broadcast hint, False forces
    the shuffle join (the right call when the distinct-word table is
    executor-memory-scale — web corpora hit 1e8+ distinct words),
    None (default) decides from the materialized vocab count
    (``BROADCAST_VOCAB_MAX_WORDS``)."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "word"),
    ).filter(F.col("word") != "")
    seg = _vocab_hint(
        segment_words(toks.select("word").distinct(), merges), broadcast_vocab
    )
    enc = (
        toks.join(seg, "word")
        .groupBy("id")
        .agg(
            F.flatten(
                F.array_sort(
                    F.collect_list(F.struct("pos", "pieces"))
                ).pieces
            ).alias("pieces")
        )
    )
    # empty/whitespace-only docs have no word rows — re-join the full
    # id set so they come back as EMPTY pieces instead of vanishing
    # (cardinality contract: one output row per input doc; a budget or
    # packing join keyed on the id must not silently lose docs)
    return docs.select(F.col(id_col).alias("id")).join(enc, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce(
            F.col("pieces"), F.array().cast("array<string>")
        ).alias("pieces"),
    )


def bpe_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_vocab: bool | None = None,
) -> DataFrame:
    """(id, n_bpe_tokens) per document — the token-budget input with a
    REAL learned tokenizer instead of the whitespace proxy. Same plan
    as ``bpe_encode_docs`` but only piece COUNTS ride the join (8
    bytes per distinct word instead of the piece arrays); same
    ``broadcast_vocab`` contract (None = auto by vocab count; False =
    shuffle join for executor-memory-scale word tables)."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("word"),
    ).filter(F.col("word") != "")
    seg = _vocab_hint(
        segment_words(toks.select("word").distinct(), merges).select(
            "word", F.size("pieces").alias("__n")
        ),
        broadcast_vocab,
    )
    counts = (
        toks.join(seg, "word")
        .groupBy("id")
        .agg(F.sum("__n").cast("long").alias("n_bpe_tokens"))
    )
    # same cardinality contract as bpe_encode_docs: empty docs count 0
    return docs.select(F.col(id_col).alias("id")).join(
        counts, "id", "left"
    ).select(
        F.col("id").alias(id_col),
        F.coalesce(F.col("n_bpe_tokens"), F.lit(0).cast("long")).alias(
            "n_bpe_tokens"
        ),
    )
