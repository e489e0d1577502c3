"""Deduplication operators for training-data pipelines, at five levels
of fuzziness. Designed shuffle-conscious for 100 TB:

- exact: one hash-groupBy (partial-aggregated map-side; the shuffle
  carries (hash, count) pairs, not documents).
- minhash+LSH: shingle → k minhashes → b bands; candidate pairs come
  from a self-join ON (band_id, band_hash) — i.e. an equi-join on a
  short key, never an all-pairs comparison. The band join's fan-out is
  controlled by r = k/b rows per doc.
- simhash: 64-bit signature via vectorized numpy in a Pandas UDF
  (Arrow-batched); near-dup = hamming distance on a bucketed prefix.
- n-gram Jaccard: exact verification on candidate pairs only.
- embedding cosine: near-dup at semantic level; see similarity.py.

Reference parity note: the reference's only dedup is the exactly-once
id-passthrough building block (workflow.clj:6-24, SURVEY §2.4 A8);
everything here generalizes it per BASELINE.json's north star.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from ..pin import pin, pinned
from .text import fingerprint


def _spread(df: DataFrame, key: str | None = None) -> DataFrame:
    """Ensure CPU-bound per-row work parallelizes: small single-file
    inputs arrive as 1 partition, serializing all downstream hashing
    onto one core. Repartitioning costs one cheap shuffle of the raw
    rows and buys full-cluster fan-out; no-op when the source is
    already split (the 100 TB case).

    The pre-split check probes ``inputFiles()`` FIRST: on a
    many-file (100 TB) source that answers "already parallel" without
    the plan→RDD conversion that ``df.rdd`` forces. Only small/few-file
    inputs — where the conversion is trivially cheap anyway — fall
    through to the exact partition count.

    The many-files inference only holds for plain scans: a plan with a
    user Repartition/Coalesce/Limit/Sample between scan and here can
    have ONE partition over many files (e.g. ``read.parquet(dir)
    .coalesce(1)``), which the fast path must not wave through — those
    markers force the exact partition probe instead."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        plan = df._jdf.queryExecution().logical().toString()
        shape_changed = any(
            m in plan for m in ("Repartition", "Coalesce", "Limit", "Sample")
        )
        if not shape_changed and len(df.inputFiles()) >= target:
            # >= target files: the file-source planner's split size is
            # capped at totalBytes/defaultParallelism (bytesPerCore) and
            # floored at openCostInBytes, so many files never collapse
            # below core count — already parallel, no probe, no shuffle
            return df
    except Exception:
        pass  # non-file-backed plan (memory, join result, ...): fall through
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, key) if key else df.repartition(target)


# ---------------------------------------------------------------- exact
def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (post whitespace-normalization)
    documents: one row per duplicated fingerprint with the group size
    and the ids. Output: fp, n_dups, canonical_id (min id)."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(F.col(id_col)).alias("canonical_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one (min-id) document per fingerprint. Single
    shuffle on the fingerprint; survives any scale. The fingerprint is
    computed ONCE as a column and the join runs on it — recomputing the
    md5 inside the join condition would hash every row twice."""
    fp = df.withColumn("__fp", fingerprint(F.col(text_col)))
    keep = fp.groupBy("__fp").agg(F.min(F.col(id_col)).alias("__keep_id"))
    return (
        fp.join(keep, "__fp", "inner")
        .filter(F.col(id_col) == F.col("__keep_id"))
        .drop("__fp", "__keep_id")
    )


# ------------------------------------------------------------- shingles
def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles of lowercased text, as an array of strings.
    Pure Column expr: transform over a token-index sequence.

    The token array is LAMBDA-BOUND so it evaluates once per row:
    higher-order functions are interpreted (no CSE into lambda
    bodies), so referencing the split expression inside the
    per-shingle lambda would re-split the text for every shingle ×
    every element_at — quadratic per document (the winnowing pass hit
    exactly this; binding took it from minutes to seconds at sf0.1)."""
    toks_expr = F.split(F.lower(F.trim(text)), r"\s+")

    def build(toks):
        k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
        idx = F.sequence(F.lit(0), k - 1)
        return F.when(
            k > 0,
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(toks_expr), build), 1)


def ngram_jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two shingle arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# -------------------------------------------------------------- minhash
_MAX_LONG = (1 << 63) - 1


def minhash_signature(shingle_arr: Column, num_hashes: int = 64) -> Column:
    """k minhashes: min over shingles of xxhash64(shingle, seed_i).

    Implemented as ONE fold over the shingle array (aggregate +
    zip_with(least)) rather than k separate array_min(transform(...))
    expressions: the naive form re-evaluates the shingle-array
    expression k times, which blew up 70× in benchmarks. Here each
    shingle is hashed k times in a single traversal, all JVM-side."""
    init = F.array_repeat(F.lit(_MAX_LONG).cast("long"), num_hashes)
    return F.aggregate(
        shingle_arr,
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.array(*[F.xxhash64(s, F.lit(i)) for i in range(num_hashes)]),
            lambda a, b: F.least(a, b),
        ),
    )


def minhash_bands(sig: Column, num_bands: int, rows_per_band: int) -> Column:
    """Band the signature for LSH: array of (band_id, band_hash)."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(
                    *[F.element_at(sig, b * rows_per_band + r + 1) for r in range(rows_per_band)]
                ).alias("band_hash"),
            )
            for b in range(num_bands)
        ]
    )


def minhash_signature_frame(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, h0..h{k-1}) wide minhash signature per document — the
    shared signature builder for the batch candidate join and the
    streaming (foreachBatch) signature store.

    explode-shingles → groupBy(id) with k min() aggregates: the
    shingle expression is evaluated ONCE per document, each shingle
    hashed k times inside a codegen'd partial aggregate (map-side
    combine → the shuffle carries one k-wide row per doc per task).
    Naive k×array_min(transform(...)) re-evaluated the shingle array
    k times and benchmarked 70× slower at sf0.1.

    The k-member hash family re-hashes the shingle's 64-bit base hash
    (fixed 8-byte input) instead of the string itself: one
    string-length hash per shingle + k constant-time long hashes —
    hashing the string k times benchmarked ~3× slower at sf0.1 (the
    family stays pairwise-independent; a 64-bit base collision merges
    two shingles corpus-wide, which perturbs Jaccard by ~1/|shingles|
    — far below the MinHash estimator's own variance)."""
    exploded = (
        _spread(df.select(id_col, text_col), id_col)
        .select(
            F.col(id_col).alias("id"),
            F.explode(shingles(F.col(text_col), shingle_n)).alias("s"),
        )
        .select("id", F.xxhash64(F.col("s")).alias("__h"))
    )
    return exploded.groupBy("id").agg(
        *[F.min(F.xxhash64(F.col("__h"), F.lit(i))).alias(f"h{i}") for i in range(num_hashes)]
    )


def banded_signature_frame(
    sig: DataFrame, num_hashes: int, num_bands: int
) -> DataFrame:
    """(id, band_id, band_hash) LSH band rows from a wide signature
    frame — the equi-join key side of candidate generation, shared by
    the batch self-join and the streaming store probe."""
    rows_per_band = num_hashes // num_bands
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.xxhash64(
                            *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
                        ).alias("band_hash"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("b"),
    ).select("id", "b.band_id", "b.band_hash")


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b): docs sharing >= 1 identical
    band. The self-join is an equi-join on (band_id, band_hash) — the
    100 TB-safe plan (shuffle keyed on short band hashes; AQE handles
    hot buckets). Follow with `verified_near_dups` to kill false
    positives."""
    sig = minhash_signature_frame(df, text_col, id_col, num_hashes, shingle_n)
    banded = banded_signature_frame(sig, num_hashes, num_bands)
    # EAGER materialization before the self-join: Spark does NOT reuse
    # the two alias sides' subtrees (no ReusedExchange across a
    # self-join), and a LAZY persist is not enough — the join's two
    # shuffle-map stages are submitted concurrently within the first
    # action and BOTH race-compute the k-hash signature aggregate
    # before the cache fills (profiled at sf0.1: two identical ~4.2 s
    # jobs per execution). localCheckpoint computes it exactly once,
    # truncates the lineage, and its blocks release on GC of the result
    # instead of leaking a CacheManager entry per call (same discipline
    # as hamming_block_pairs / winnow_overlap_pairs). The banded frame
    # is (id, 2 ints) × bands per doc — tiny relative to the corpus, so
    # materializing it is safe at any scale (unlike the shingle frames).
    banded = pin(banded)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def _candidate_shingles(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
) -> DataFrame:
    """(__id, __sh) shingle arrays for candidate-involved docs ONLY —
    the LEFT SEMI join against the candidate id set is the 100 TB
    guardrail (verification cost ∝ candidates, not corpus), pinned by
    pytest on THIS lazy plan because ``verified_near_dups`` checkpoints
    the frame (the semi-join then executes inside the checkpoint and
    is no longer visible in the returned plan)."""
    ids = (
        candidates.select(F.col("id_a").alias("__id"))
        .unionByName(candidates.select(F.col("id_b").alias("__id")))
        .distinct()
    )
    return (
        _spread(df.select(id_col, text_col), id_col)
        .join(ids, F.col(id_col) == F.col("__id"), "left_semi")
        .select(
            F.col(id_col).alias("__id"), shingles(F.col(text_col), shingle_n).alias("__sh")
        )
    )


def verified_near_dups(
    df: DataFrame,
    candidates: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only (the candidate set
    is orders of magnitude smaller than all-pairs). Output:
    id_a, id_b, jaccard.

    Scale shape: shingles are computed ONLY for documents that appear
    in some candidate pair — a semi-join against the (persisted, tiny)
    candidate id set first — so verification cost is proportional to
    the candidate count, not the corpus. Re-shingling the whole corpus
    here benchmarked ~4× slower at sf0.1 and would be catastrophic at
    100 TB where candidates ≪ corpus.

    The candidate frame is EAGERLY materialized (count) before the
    fan-out: it feeds two subtrees (the id set and the final pair
    join), and a lazy persist lets both race to compute the expensive
    candidate subtree concurrently within one action — observed 4×
    duplicate work in the bench. The frame is id-pairs only, bounded
    by the near-dup count; at 100 TB you would checkpoint it to
    storage instead, same shape.

    CACHING NOTE: the persisted candidate frame stays in executor
    storage after this call returns (the returned plan references it,
    so it cannot be unpersisted here). Long-running sessions calling
    this in a loop should release it — ``df.unpersist()`` on the
    consumed result's source, or ``spark.catalog.clearCache()``
    between iterations (what bench.py does)."""
    candidates = candidates.persist()
    candidates.count()
    sh = _candidate_shingles(df, candidates, text_col, id_col, shingle_n)
    # EAGER: sh feeds BOTH pair sides below and Spark reuses no
    # subtrees across them — lazily, each side re-runs the corpus
    # semi-join AND re-shingles every candidate doc (profiled at
    # sf0.1: ~2× the whole verification cost in duplicated jobs).
    # The frame is candidate-involved docs only (ids semi-join), so
    # materializing it is bounded by the candidate count, not the
    # corpus; localCheckpoint blocks release on GC of the result.
    sh = pin(sh)
    a = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(ngram_jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# -------------------------------------------------------------- simhash
def simhash_block_frame(sh: DataFrame, num_blocks: int) -> DataFrame:
    """(id, simhash, block_id, block_val) pigeonhole block rows from an
    (id, simhash) frame — the equi-join key side of candidate
    generation, shared by the batch self-join and the streaming
    (foreachBatch) signature store probe."""
    block_bits = 64 // num_blocks
    # num_blocks=1 (block = the whole signature, the exact-equality
    # join for hamming 0): 2^64-1 overflows a py4j long, but -1 IS the
    # all-ones 64-bit mask in two's complement
    mask = (1 << block_bits) - 1 if block_bits < 64 else -1
    return sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block_id"),
                        F.shiftrightunsigned(F.col("simhash"), b * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("block_val"),
                    )
                    for b in range(num_blocks)
                ]
            )
        ).alias("bl"),
    ).select("id", "simhash", "bl.block_id", "bl.block_val")


def with_simhash(df: DataFrame, text_col: str = "text", out_col: str = "simhash") -> DataFrame:
    """64-bit SimHash per document — vectorized numpy inside an
    Arrow-batched Pandas UDF (the justified slow path: 64 bit-counters
    per token don't fit a reasonable Column expression). Deterministic:
    token hash = pandas ``hash_array`` (SipHash with a fixed key —
    stable across runs, processes, and platforms)."""
    import pandas as pd
    import numpy as np

    def _simhash_batch(texts):
        # fully vectorized over the Arrow batch: factorize all tokens so
        # each distinct token hashes once (corpus vocab ≪ token count)
        # in ONE cython hash_array call — no per-token Python loop —
        # then segment-sum the ±1 bit rows with a cumsum difference
        shifts = np.arange(64, dtype=np.uint64)
        powers = (np.uint64(1) << shifts).astype(np.uint64)

        toks_per_doc = [t.lower().split() if t else [] for t in texts]
        lengths = np.fromiter(
            (len(x) for x in toks_per_doc), dtype=np.int64, count=len(toks_per_doc)
        )
        if int(lengths.sum()) == 0:
            return pd.Series(np.zeros(len(texts), dtype=np.int64))
        flat = np.asarray(
            [tok for toks in toks_per_doc for tok in toks], dtype=object
        )
        codes, uniques = pd.factorize(flat)
        hashes = pd.util.hash_array(np.asarray(uniques, dtype=object))
        # (vocab × 64) matrix of ±1 rows, gathered per token occurrence
        pm = (
            ((hashes[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64) * 2 - 1
        )
        tok_rows = pm[codes]
        csum = np.vstack(
            [np.zeros((1, 64), dtype=np.int64), np.cumsum(tok_rows, axis=0)]
        )
        ends = np.cumsum(lengths)
        acc = csum[ends] - csum[ends - lengths]
        sig = ((acc > 0).astype(np.uint64) * powers[None, :]).sum(axis=1, dtype=np.uint64)
        return pd.Series(sig.view(np.int64))

    # explicit returnType, no annotations (local imports make string
    # annotations unresolvable for pandas_udf introspection)
    simhash_udf = F.pandas_udf(_simhash_batch, "long")
    return df.withColumn(out_col, simhash_udf(F.col(text_col)))


def check_pigeonhole(max_hamming: int, num_blocks: int | None) -> int:
    """Resolve/validate the pigeonhole block count shared by every
    64-bit hamming family (simhash text near-dup, image pHash):
    defaults to ``max_hamming + 1`` — the smallest count that makes the
    stated radius a full-recall GUARANTEE, not a heuristic. An explicit
    ``num_blocks <= max_hamming`` is rejected: it would silently miss
    pairs at distance >= num_blocks."""
    if num_blocks is None:
        num_blocks = max_hamming + 1
    if max_hamming >= num_blocks:
        raise ValueError(
            f"pigeonholing with {num_blocks} blocks only guarantees "
            f"recall for max_hamming < {num_blocks}; got max_hamming={max_hamming}"
        )
    return num_blocks


def hamming_block_pairs(
    sig: DataFrame, max_hamming: int, num_blocks: int
) -> DataFrame:
    """(id_a, id_b, hamming) pairs within ``max_hamming`` from an
    (id, simhash) 64-bit signature frame — the pigeonhole self-join
    shared by ``simhash_near_dups`` (text) and
    ``multimodal.image_phash_pairs`` (images): candidates come from
    ``num_blocks`` block equi-joins instead of all pairs, the exact
    ``bit_count`` filter removes the extras. The kernel itself
    enforces the pigeonhole invariant (``check_pigeonhole``) so a
    direct caller cannot silently lose recall. The block frame is
    pinned with an EAGER localCheckpoint — the self-join would
    otherwise run the (Pandas-UDF or decode) signature builder once
    per alias side, and unlike a ``persist`` the blocks release on GC
    of the result instead of leaking one cache entry per call."""
    check_pigeonhole(max_hamming, num_blocks)
    blocks = pin(simhash_block_frame(sig, num_blocks))
    l, r = blocks.alias("l"), blocks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.block_id") == F.col("r.block_id"))
            & (F.col("l.block_val") == F.col("r.block_val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def simhash_near_dups(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_blocks: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.
    Scale path: pigeonhole — split the 64-bit signature into
    ``num_blocks`` equal-shift blocks; a pair within hamming d <
    num_blocks has its differing bits in at most d blocks, so at least
    one block matches exactly and candidates come from num_blocks
    equi-joins instead of all pairs (``hamming_block_pairs``).

    ``num_blocks`` defaults to ``max_hamming + 1`` (see
    ``check_pigeonhole``). When 64 % num_blocks != 0 the top bits go
    uncovered — recall-safe (uncovered differing bits consume no
    pigeonhole; they only admit extra candidates, which the exact
    hamming filter removes)."""
    num_blocks = check_pigeonhole(max_hamming, num_blocks)
    sh = with_simhash(_spread(df.select(id_col, text_col), id_col), text_col).select(
        F.col(id_col).alias("id"), F.col("simhash")
    )
    return hamming_block_pairs(sh, max_hamming, num_blocks)


# ------------------------------------------------- winnowing overlap
def winnow_fingerprint_frame(
    df: DataFrame,
    k: int = 5,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One (id, fp) row per distinct winnowing fingerprint of each doc
    — the joinable half of the winnow family (Schleimer et al.,
    SIGMOD'03), exactly what the streaming containment store persists.
    Map-side explode; no shuffle."""
    from .text import winnow_fingerprints

    return df.select(
        F.col(id_col).alias("id"),
        F.explode(
            winnow_fingerprints(F.col(text_col), k=k, window=window)
        ).alias("fp"),
    )


def winnow_overlap_pairs(
    df: DataFrame,
    k: int = 5,
    window: int = 4,
    df_cap: int | None = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Local-overlap pairs (id_a < id_b, n_shared_fingerprints) via a
    fingerprint self-equi-join — containment detection whole-doc md5
    and bag-of-shingles MinHash both miss. Guarantee: docs sharing any
    run of >= k+window-1 tokens share >= 1 fingerprint, so every such
    pair is emitted.

    ``df_cap`` drops fingerprints appearing in more than that many
    docs BEFORE the self-join (MOSS's rule): a fingerprint shared by f
    docs fans out f² pairs, so a hot template run goes quadratic
    without it (observed minutes → ~2 s at sf0.1). Scale shape is the
    LSH band join: shuffle keyed on the fingerprint value, volume ∝
    collisions, never all-pairs."""
    fp = winnow_fingerprint_frame(
        df, k=k, window=window, id_col=id_col, text_col=text_col
    )
    return winnow_pair_counts(capped_fingerprints(fp, df_cap)).withColumnRenamed(
        "n_shared", "n_shared_fingerprints"
    )


def capped_fingerprints(fp: DataFrame, df_cap: int | None) -> DataFrame:
    """The (id, fp) frame without fingerprints that appear in more
    than ``df_cap`` docs (MOSS's rule; None keeps all), pinned with an
    eager checkpoint: the self-join downstream scans it twice and must
    not recompute the fingerprint pass (a decode, for media). Shared by
    the text, audio and video fingerprint-pair operators."""
    # the raw pass is released when the scope exits, on any exit
    with pinned() as keep:
        if df_cap is not None:
            # eager: raw feeds the df-cap aggregate AND the semi-join's
            # probe side within the ONE checkpoint action below — lazily
            # persisted, those two stages race-compute the fingerprint
            # pass before the cache fills (the minhash banded-frame race)
            raw = keep(fp)
            rare = (
                raw.groupBy("fp")
                .agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") <= df_cap)
            )
            fp = raw.join(rare.select("fp"), "fp", "left_semi")
        # a checkpoint, not a persist: no CacheManager entry outlives
        # this call — its blocks are released by the ContextCleaner once
        # the caller drops the result
        return pin(fp)


def winnow_pair_counts(fp: DataFrame) -> DataFrame:
    """The fingerprint self-join kernel shared by the batch report
    operator and the streaming containment step: (id_a < id_b,
    n_shared) over an (id, fp) frame — an equi-join on the 8-byte
    fingerprint value, volume ∝ collisions."""
    l, r = fp.alias("l"), fp.alias("r")
    return (
        l.join(
            r,
            (F.col("l.fp") == F.col("r.fp")) & (F.col("l.id") < F.col("r.id")),
        )
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# --------------------------------------------- duplicate n-gram spans
def dup_ngram_spans(
    df: DataFrame,
    n: int = 5,
    min_count: int = 2,
    min_span: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal duplicated token SPANS per document — the exact-substring
    dedup a training pipeline runs besides whole-doc near-dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better": verbatim runs repeated across a corpus — licenses,
    boilerplate, templated headers — should be REMOVED from documents
    that are otherwise unique; whole-doc MinHash keeps both documents
    and winnowing only REPORTS the overlapping pair). A token run is
    duplicated when every one of its n-grams occurs >= ``min_count``
    times corpus-wide (within-document repetition counts — the second
    verbatim occurrence inside one doc is equally memorizable).

    Output: (doc_id, span_start, span_end, span_tokens) — 0-based
    INCLUSIVE token positions over the normalized token stream
    (lowercased, whitespace-split — the ``shingles`` stream), one row
    per maximal span with >= ``min_span`` tokens (default: n, i.e.
    every span).  Feed to ``mask_dup_spans`` to rewrite the corpus.

    Plan shape (100 TB-safe, no all-pairs anywhere): posexplode n-grams
    → 8-byte hash (the string never shuffles) → count partial-agg →
    occurrence filter → semi-join positions of duplicated n-grams →
    per-document sort (gaps-and-islands: n-grams at p and q overlap or
    touch iff q - p <= n, so a running new-island sum merges them) →
    one min/max per island. Three shuffles total (count, semi-join,
    per-doc window), each keyed on short values; the window partition
    is one document's duplicated positions — bounded by document
    length. A 64-bit n-gram hash collision can only OVER-mask (one
    extra n-gram counted duplicated), never corrupt span arithmetic.

    The paper's production setting is n=50 tokens; the default n=5
    suits test-scale corpora — semantics are identical."""
    grams = gram_positions(df, n, id_col, text_col)
    # persist + EAGER count: the frame feeds both the corpus-wide count
    # and the position semi-join — lazily persisted, the two subtrees
    # race to compute the explode concurrently within one action (the
    # verified_near_dups lesson). ~20 B/token cached; at 100 TB
    # substitute a storage checkpoint, same shape. CACHING NOTE: the
    # entry outlives this call (the returned plan references it) —
    # loop callers release via spark.catalog.clearCache(), as bench.py
    # does.
    grams = grams.persist()
    grams.count()
    dup = (
        grams.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
    )
    hits = grams.join(dup.select("__h"), "__h", "left_semi")
    spans = island_spans(hits, n)
    if min_span is not None and min_span > n:
        spans = spans.filter(F.col("span_tokens") >= min_span)
    return spans


def gram_positions(
    df: DataFrame, n: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, __pos, __h): every n-gram's 0-based token position and
    64-bit hash — the joinable half of the exact-substring family,
    shared by ``dup_ngram_spans`` and the streaming
    ``dup_ngram_mask_step`` (which persists per-batch (__h, __c)
    counts). Map-side explode; no shuffle."""
    return (
        _spread(df.select(id_col, text_col), id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(shingles(F.col(text_col), n)).alias("__pos", "__g"),
        )
        .select("doc_id", "__pos", F.xxhash64(F.col("__g")).alias("__h"))
    )


def island_spans(hits: DataFrame, n: int) -> DataFrame:
    """Gaps-and-islands merge of duplicated n-gram positions into
    maximal spans: (doc_id, __pos) → (doc_id, span_start, span_end,
    span_tokens). n-grams at p and q overlap or touch iff q - p <= n;
    the per-document window partition is bounded by document length."""
    w = W.partitionBy("doc_id").orderBy("__pos")
    return (
        hits.withColumn(
            "__new",
            # NULL lag = first duplicated position of the doc = new
            # island (a sentinel default would overflow int under ANSI)
            F.coalesce(
                F.col("__pos") - F.lag("__pos", 1).over(w) > F.lit(n),
                F.lit(True),
            ).cast("int"),
        )
        .withColumn("__island", F.sum("__new").over(w))
        .groupBy("doc_id", "__island")
        .agg(
            F.min("__pos").alias("span_start"),
            (F.max("__pos") + F.lit(n - 1)).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def mask_dup_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rewrite ``text_col`` with every duplicated span's tokens REMOVED
    — the apply half of ``dup_ngram_spans`` (Lee et al.'s cut step).
    Documents with no spans keep their ORIGINAL text verbatim; masked
    documents are rebuilt from the normalized token stream the span
    positions index (lowercased, single-space joined — the documented
    price of positional masking; a byte-faithful cut would need byte
    offsets through the tokenizer). Map-only after one broadcast-or-
    shuffle join of (doc, tiny span list); the span list per doc is
    bounded by document length. ``spans`` carries the fixed ``doc_id``
    column every span producer emits (``dup_ngram_spans`` /
    ``island_spans``); ``id_col`` names the DOCUMENT frame's id."""
    sp = spans.groupBy(F.col("doc_id").alias("__sid")).agg(
        F.collect_list(
            F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e"))
        ).alias("__spans")
    )
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    spans_col = F.col("__spans")
    masked = F.array_join(
        F.filter(
            toks,
            lambda t, i: ~F.exists(
                spans_col, lambda s: (i >= s["s"]) & (i <= s["e"])
            ),
        ),
        " ",
    )
    joined = df.join(sp, df[id_col] == F.col("__sid"), "left")
    return joined.withColumn(
        text_col,
        F.when(spans_col.isNull(), F.col(text_col)).otherwise(masked),
    ).drop("__sid", "__spans")


# ------------------------------------------------------- dup clusters
def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 30,
    driver_edge_cap: int = 200_000,
) -> DataFrame:
    """Connected components over near-dup pairs: the step AFTER pair
    generation in a real dedup pipeline (near-dup similarity is not
    transitive, but dedup policy is — A ~ B ~ C must land in ONE
    cluster so one canonical survivor is kept). Returns
    (id, cluster_id) for every id appearing in ``pairs``;
    cluster_id = min id of the component.

    Algorithm: min-label propagation with pointer jumping (label :=
    label[label] each round — path halving), the GraphX/connected-
    components recipe re-expressed as DataFrame joins. Convergence in
    O(log diameter) rounds: each round is two equi-joins + a partial
    min-aggregate, all keyed shuffles — no driver-side graph. Label
    state persists per round with the previous round unpersisted, and
    ``localCheckpoint`` truncates the growing lineage (the standard
    Spark iterative-algorithm discipline).

    Raises after ``max_iters`` non-converged rounds rather than
    returning a partial clustering.

    Hybrid execution (the GraphX/production-CC pattern): when the
    DISTINCT edge set is at most ``driver_edge_cap`` rows (a few MB —
    the same bounded-collect budget as k-means centroids), the
    clustering finishes in ONE collect + driver-side union-find
    instead of O(log d) distributed rounds, whose per-round job
    latency dominates on small graphs (measured ~4x at sf0.1's
    498-pair graph; streaming micro-batch dedup graphs are smaller
    still). Near-dup pair frames are candidate-verified — orders of
    magnitude smaller than the corpus — but a 100 TB run can still
    exceed the cap, and then the distributed loop below runs
    unchanged. Both paths return identical output (min id per
    component); pinned by a test forcing ``driver_edge_cap=0``.
    """
    # orientation-normalize (least, greatest) BEFORE distinct: pair
    # producers in this package guarantee id_a < id_b, but an input
    # carrying both (a,b) and (b,a) would otherwise survive distinct as
    # two edges and double every per-round shuffle below
    e = pairs.select(
        F.least(F.col(id_a), F.col(id_b)).alias("src"),
        F.greatest(F.col(id_a), F.col(id_b)).alias("dst"),
    )

    # persist BEFORE the cap probe: the upstream pair pipeline
    # (candidate join + verification) is the expensive part of dedup,
    # and without materialization it would run once for the probe and
    # again for whichever path executes
    und = e.distinct().persist()
    if und.limit(driver_edge_cap + 1).count() <= driver_edge_cap:
        id_type = pairs.schema[id_a].dataType
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in und.collect():
            a, b = r["src"], r["dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
        best: dict = {}
        for n in parent:
            root = find(n)
            if root not in best or n < best[root]:
                best[root] = n
        rows = [(n, best[find(n)]) for n in parent]
        spark = pairs.sparkSession
        schema = T.StructType(
            [T.StructField("id", id_type), T.StructField("cluster_id", id_type)]
        )
        und.unpersist()
        return spark.createDataFrame(rows, schema)

    # big graph: build the bidirectional edge frame FROM the persisted
    # distinct pairs so the upstream pipeline is not recomputed
    raw = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    # Size the per-round shuffles to the GRAPH, not the corpus default:
    # the pair graph is orders of magnitude smaller than the corpus
    # that produced it, and each of the O(log d) rounds pays per-task
    # scheduling overhead on every shuffle partition (measured 7.5 s →
    # 4.5 s at sf0.1 by dropping 32 → graph-sized). Sized via EXPLICIT
    # repartition(target, key) on every per-round join input — never by
    # mutating session-global spark.sql.shuffle.partitions, which would
    # leak the graph-sized value into any query planned concurrently in
    # the session (a streaming micro-batch starting mid-loop would bake
    # it into its checkpointed state-store layout permanently).
    spark = pairs.sparkSession
    n_edges = raw.count()
    target = max(
        2, min(spark.sparkContext.defaultParallelism, n_edges // 100_000 + 1)
    )
    # pre-partition the (persisted) edge frame on its two join keys ONCE
    # so the per-round joins reuse the cached partitioning instead of
    # re-shuffling the edges every round
    edges = raw.repartition(target, "dst").persist()
    edges.count()
    raw.unpersist()
    und.unpersist()  # edges is materialized; release the distinct-pairs cache
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    # convergence check: labels are monotonically non-increasing (every
    # update takes a min), so the label sum strictly decreases until
    # fixpoint. The sum rides the round's own checkpoint action as an
    # observe() metric — zero extra jobs per round instead of one
    # full aggregate pass. decimal(38,0) keeps the sum exact at any
    # node count.
    prev_sum = None
    for _ in range(max_iters):
        labels, obs = _cc_round(edges, labels, target)
        cur_sum = obs.get["s"]
        # cur_sum is None iff the label frame is empty (no pairs
        # at all) — converged trivially
        if cur_sum is None or cur_sum == prev_sum:
            edges.unpersist()
            return labels.select(
                F.col("node").alias("id"), F.col("label").alias("cluster_id")
            )
        prev_sum = cur_sum
    edges.unpersist()
    raise RuntimeError(f"dup_clusters did not converge in {max_iters} rounds")


def _cc_round(edges: DataFrame, labels: DataFrame, target: int):
    """One min-label-propagation + pointer-jump round; returns the new
    eagerly-checkpointed label frame (plus the Observation carrying
    its label sum, collected by the checkpoint job itself) and
    releases the old one. All shuffles are explicitly sized to
    ``target`` (graph-sized) via repartition on the join inputs — both
    sides of each equi-join land on the same HashPartitioning(key,
    target), so EnsureRequirements inserts no further exchange and the
    session's shuffle-partition conf never enters the per-round
    plan."""
    # 1) propagate: each node adopts the min of its own and its
    #    neighbors' labels. The edge side is already cache-partitioned
    #    on dst; only the (smaller) label frame shuffles.
    nbr = (
        edges.join(labels.withColumnRenamed("node", "dst").repartition(target, "dst"), "dst")
        .groupBy("src")
        .agg(F.min("label").alias("nl"))
    )
    prop = (
        labels.repartition(target, "node")
        .join(nbr.withColumnRenamed("src", "node").repartition(target, "node"), "node", "left")
        .select(
            F.col("node"),
            F.least(F.col("label"), F.coalesce(F.col("nl"), F.col("label"))).alias("label"),
        )
    )
    # 2) pointer jump: label := label's label (path halving).
    #    (A second jump per round — 4× contraction — benchmarked
    #    SLOWER at sf0.1: the extra keyed join per round costs more
    #    than the saved rounds on near-dup graphs, whose components
    #    are shallow. Revisit only for deep-chain workloads.)
    parent = prop.select(F.col("node").alias("p_node"), F.col("label").alias("p_label"))
    jumped = (
        prop.repartition(target, "label")
        .join(parent.repartition(target, "p_node"), F.col("label") == F.col("p_node"), "left")
        .select(
            F.col("node"),
            F.least(F.col("label"), F.coalesce(F.col("p_label"), F.col("label"))).alias("label"),
        )
    )
    obs = Observation()
    new_labels = pin(jumped.observe(
        obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    ))
    labels.unpersist()
    return new_labels, obs


def keep_canonical(df: DataFrame, clusters: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Dedup policy on top of ``dup_clusters``: keep one doc per
    cluster (the min-id canonical); docs in no cluster survive. One
    broadcast-or-shuffle join — the cluster frame is pairs-sized, far
    smaller than the corpus."""
    drop = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("__drop_id")
    )
    return df.join(drop, df[id_col] == F.col("__drop_id"), "left_anti")


def keep_best(
    df: DataFrame,
    clusters: DataFrame,
    score,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware dedup policy: keep the HIGHEST-``score`` member
    of each cluster (deterministic tie-break: lowest id among the
    top-scored; a cluster whose scores are all NULL falls back to the
    min-id canonical) — what a production pipeline keeps when dup
    group members differ in quality (boilerplate copy vs clean
    original). ``score`` is any Column over ``df``'s columns, e.g.
    ``text.quality_score(F.col("text"))``. Docs in no cluster survive
    untouched.

    Plan: the cluster frame is pairs-sized, far smaller than the
    corpus, so only CLUSTERED docs are scored (inner join), the
    winner election is two partial aggregates over that small frame,
    and the corpus is touched once by the final anti-join — the full
    corpus is never scored or reshuffled. The member frame feeds
    three downstream plans (best / winners / drop) and Spark does not
    reuse subtrees, so it is pinned with an eager localCheckpoint
    (pairs-sized: 3 narrow columns per clustered doc) — without it
    the corpus join + score expression would run three times."""
    member = pin(
        df.join(clusters, df[id_col] == clusters["id"], "inner")
        .select(
            F.col("cluster_id"),
            clusters["id"].alias("__m_id"),
            score.alias("__s"),
        )
    )
    drop = best_member_drops(member)
    return df.join(drop, df[id_col] == F.col("__drop_id"), "left_anti")


def best_member_drops(member: DataFrame) -> DataFrame:
    """(__drop_id,) — the ids losing the highest-score survivor
    election over an (eagerly pinned) ``(cluster_id, __m_id, __s)``
    member frame: the single highest ``__s`` per cluster survives,
    ties and all-NULL clusters falling back to min id. This is THE
    election kernel — ``keep_best`` (batch, whole-corpus clusters) and
    the streaming within-batch election
    (``streaming.near_dedup._drop_within_batch``) both call it, so the
    tie-break/NULL policy the congruity tests pin cannot drift between
    the engines.
    The caller pins ``member`` because it feeds three downstream plans
    (best / winners / drop) and Spark does not reuse subtrees."""
    best = member.groupBy("cluster_id").agg(F.max("__s").alias("__smax"))
    # eqNullSafe: an all-NULL-score cluster matches every member and
    # the min-id tie-break below becomes the canonical fallback
    winners = (
        member.join(best, "cluster_id")
        .filter(F.col("__s").eqNullSafe(F.col("__smax")))
        .groupBy("cluster_id")
        .agg(F.min("__m_id").alias("__keep_id"))
    )
    return (
        member.join(winners, "cluster_id")
        .filter(F.col("__m_id") != F.col("__keep_id"))
        .select(F.col("__m_id").alias("__drop_id"))
        .distinct()
    )
