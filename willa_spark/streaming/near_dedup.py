"""Streaming near-duplicate deduplication — the foreachBatch recipe for
the minhash/simhash/winnow families, mirroring the batch operators in
willa_spark.functions.dedup against a persisted signature store
(``winnow_dedup_step`` adds the CONTAINMENT member: shared-run overlap
via winnowing fingerprints, which the whole-doc families miss).

Why foreachBatch and not a stateful operator: near-dedup state is the
signature index of EVERY admitted document — far beyond what a
per-key state store should hold, and it must be joinable (a banded
equi-join), not point-looked-up. The Structured Streaming idiom for
"stream joined against a large, append-only index we also maintain" is
a foreachBatch step over a storage-backed table (the same shape as the
reference's dedupe workflow splice, workflow.clj:6-24, which is itself
a streaming construction).

Every step runs through the one store lifecycle
(``store_step.store_step``: compaction, geometry, id and coupled-half
guards, strictly-prior reads, pins, drops, appends, replay). What each
family keeps here is its signature builder (the SAME builders the
batch operators use: ``minhash_signature_frame``, ``with_simhash``,
``winnow_fingerprint_frame``, the decoders), its store halves and one
candidate-join-plus-verify that serves both the cross-batch probe and
the within-batch self-join: simhash = exact hamming over pigeonhole
blocks; winnow = shared-fingerprint count; minhash = band equi-join
then the signature-estimated Jaccard (matching components / k) — at
100 TB the store holds k×8-byte signatures, not text, so the estimator
(whose error the banding already tolerates) replaces the exact-shingle
verify; an exact dup estimates 1.0 exactly. Callers who need the batch
pipeline's exact-verify policy opt into
``minhash_dedup_step(exact_verify=True)``, which stores each admitted
doc's distinct shingle hashes and verifies exactly — storage grows
with document length, the documented trade.

Policy note: streaming keeps the FIRST-SEEN representative of each
near-dup group (the online-dedup standard); the batch pipeline keeps
the min-id canonical. The two agree whenever ingestion order is id
order and the duplicate relation is transitive at the chosen radius
(exact duplicates always are) — the congruity the tests pin. For
non-transitive organic near-dups the streaming answer depends on
arrival order, as any online policy must. Every step also accepts
``score=`` (any Column over the batch's columns) for a quality-aware
WITHIN-BATCH survivor election — the ``dedup.keep_best`` policy over
co-arriving dups; cross-batch necessarily stays first-seen-wins (see
``store_step._drop_within_batch`` for why append-mode emission forces
it).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.dedup import (
    banded_signature_frame,
    check_pigeonhole,
    gram_positions,
    island_spans,
    mask_dup_spans,
    minhash_signature_frame,
    ngram_jaccard,
    shingles,
    simhash_block_frame,
    winnow_fingerprint_frame,
    with_simhash,
)
from ..pin import pin
from .store import store_prune
from .store_step import Half, dedup_step, store_step


def minhash_store_prune(store_dir: str, before_batch: int) -> int:
    """TTL-prune ALL halves of a minhash store (``sigs/`` + ``bands/``
    + the ``shingles/`` half an ``exact_verify=True`` store carries)
    together. The halves are coupled — bands locate candidates,
    sigs/shingles verify them — so pruning one without the others
    leaves the store inconsistent (``minhash_dedup_step`` fails loud on
    that state rather than silently mis-deduping). Same windowed-dedup
    policy trade as ``store_prune``."""
    n = store_prune(os.path.join(store_dir, "sigs"), before_batch)
    store_prune(os.path.join(store_dir, "bands"), before_batch)
    store_prune(os.path.join(store_dir, "shingles"), before_batch)
    return n


def simhash_dedup_step(
    store_dir: str,
    max_hamming: int = 3,
    num_blocks: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
    score=None,
) -> Callable[[DataFrame, int], DataFrame]:
    """foreachBatch step for streaming SimHash near-dedup. Returns a
    ``(batch_df, batch_id) -> admitted_df`` callable; wire it as

        def sink(batch_df, batch_id):
            step(batch_df, batch_id).write.mode("append").parquet(out)
        stream.writeStream.foreachBatch(sink).start()

    The store holds (id, simhash) per admitted doc — 16 bytes/doc —
    and block rows are derived at probe time (pure column ops).
    Verification is EXACT hamming, so streaming and batch apply the
    identical radius. ``compact_every=N`` bin-packs committed store
    partitions every N batches (see ``store_compact_every``) so a
    long-running stream's directory count stays bounded."""

    def sig_builder(batch_df: DataFrame) -> DataFrame:
        return with_simhash(
            batch_df.select(F.col(id_col).alias("id"), F.col(text_col)), text_col
        ).select("id", "simhash")

    return dedup_step(
        "simhash_dedup_step", store_dir, [Half()], sig_builder,
        _hamming_pairs(max_hamming, num_blocks),
        id_col=id_col, score=score, compact_every=compact_every,
    )


def phash_dedup_step(
    store_dir: str,
    max_hamming: int = 3,
    num_blocks: int | None = None,
    id_col: str = "doc_id",
    binary_col: str = "data",
    decoder=None,
    compact_every: int | None = None,
    score=None,
) -> Callable[[DataFrame, int], DataFrame]:
    """foreachBatch step for streaming perceptual-hash IMAGE near-dedup
    — the binary-column member of the streaming hamming family, the
    exact machinery of ``simhash_dedup_step`` with the signature
    builder swapped: decode (Arrow-batched mapInPandas, injected
    codec) → 64-bit pHash (``multimodal.with_phash``) → pigeonhole
    block probe → exact hamming. The store holds (id, simhash) per
    admitted image — never pixels or bytes. Congruity with batch
    ``multimodal.image_phash_pairs`` + min-id canonical is
    pytest-pinned with the injected fake codec (the container ships no
    real image libraries — see multimodal.py)."""
    from ..functions.multimodal import decode_image_phash_frame

    def sig_builder(batch_df: DataFrame) -> DataFrame:
        # fused decode→hash pass — bit-identical to the decode +
        # with_phash chain (store contract unchanged), minus the
        # per-row interpreted threshold-hash expression
        return decode_image_phash_frame(
            batch_df, binary_col=binary_col, id_col=id_col, decoder=decoder
        )

    return dedup_step(
        "phash_dedup_step", store_dir, [Half()], sig_builder,
        _hamming_pairs(max_hamming, num_blocks),
        id_col=id_col, score=score, compact_every=compact_every,
    )


def audio_fp_dedup_step(
    store_dir: str,
    max_hamming: int = 3,
    num_blocks: int | None = None,
    id_col: str = "doc_id",
    binary_col: str = "data",
    decoder=None,
    compact_every: int | None = None,
    score=None,
) -> Callable[[DataFrame, int], DataFrame]:
    """foreachBatch step for streaming acoustic-fingerprint AUDIO
    near-dedup — the audio member of the streaming hamming family,
    completing the text/image/audio trio on the shared kernel: decode
    (Arrow-batched mapInPandas, injected codec) → 64-frame energy
    envelope (``multimodal.audio_frame_energies``) → 64-bit threshold
    fingerprint (``multimodal.with_phash``) → pigeonhole block probe →
    exact hamming. The store holds (id, fingerprint) per admitted clip
    — never PCM. Congruity with batch
    ``multimodal.audio_fingerprint_pairs`` + min-id canonical is
    pytest-pinned with the injected fake codec (the container ships no
    real audio libraries — see multimodal.py)."""
    from ..functions.multimodal import decode_audio_fp_frame

    def sig_builder(batch_df: DataFrame) -> DataFrame:
        # fused decode→envelope→hash pass — bit-identical to the
        # decode + audio_frame_energies + with_phash chain (store
        # contract unchanged)
        return decode_audio_fp_frame(
            batch_df, binary_col=binary_col, id_col=id_col, decoder=decoder
        )

    return dedup_step(
        "audio_fp_dedup_step", store_dir, [Half()], sig_builder,
        _hamming_pairs(max_hamming, num_blocks),
        id_col=id_col, score=score, compact_every=compact_every,
    )


def _hamming_pairs(max_hamming: int, num_blocks: int | None):
    """The 64-bit-hamming family's candidate join plus verify over two
    (id, simhash) sides (simhash: text Pandas UDF; phash/audio: decode
    + threshold bits): pigeonhole block equi-join, then exact hamming
    ``<= max_hamming``. No geometry record: blocks are derived at probe
    time from the stored 64-bit signatures, and the radius is a query
    parameter, not store layout."""
    num_blocks = check_pigeonhole(max_hamming, num_blocks)

    def blocks(sh: DataFrame, tag: str) -> DataFrame:
        return simhash_block_frame(sh, num_blocks).select(
            F.col("id").alias(f"id_{tag}"),
            F.col("simhash").alias(f"__sh_{tag}"),
            "block_id",
            "block_val",
        )

    def pairs(a, b):
        return (
            blocks(a[0], "a")
            .join(blocks(b[0], "b"), ["block_id", "block_val"])
            .filter(
                F.bit_count(F.col("__sh_a").bitwiseXOR(F.col("__sh_b")))
                <= max_hamming
            )
            .select("id_a", "id_b")
            .distinct()
        )

    return pairs


def minhash_dedup_step(
    store_dir: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    num_bands: int = 16,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
    score=None,
    exact_verify: bool = False,
) -> Callable[[DataFrame, int], DataFrame]:
    """foreachBatch step for streaming MinHash near-dedup; same wiring
    (including ``compact_every`` retention) as ``simhash_dedup_step``.

    The store holds the wide k-component signature per admitted doc
    (``sigs/``) plus its band rows (``bands/``) — k×8 + bands×12
    bytes/doc, never text. By default, verification against the store
    (and within the batch, for path consistency) uses the
    SIGNATURE-ESTIMATED Jaccard — matching components / k, the
    unbiased MinHash estimator with sd ≈ sqrt(J(1-J)/k) — which is
    what a signature-only store supports at 100 TB; an exact duplicate
    estimates exactly 1.0, so the planted congruity with the batch
    pipeline is exact. For borderline ORGANIC pairs the estimator can
    land on the other side of the threshold than the batch pipeline's
    exact-shingle verify (``verified_near_dups``) — the documented
    policy divergence.

    ``exact_verify=True`` removes that divergence: the store gains a
    third ``shingles/`` half holding each admitted doc's DISTINCT
    shingle 64-bit hashes (array<long>), and every verification —
    cross-batch and within-batch — becomes the exact Jaccard over
    those hash sets, the same ``ngram_jaccard`` kernel the batch
    verify uses (hash-set vs string-set: identical up to 64-bit
    xxhash64 collisions, ~|shingles|²/2⁶⁴ — far below the banding
    miss rate). Price: the store grows by ~8·|distinct shingles|
    bytes/doc (document-length-bound, vs the fixed k×8 signature) —
    the explicit storage-for-exactness trade a 100 TB deployment must
    opt into. STORE CONTRACT: the verify mode is part of the store's
    identity — a store carries ``shingles/`` iff it was built with
    ``exact_verify=True``, and the step fails loud on a mode flip
    (resuming a default store exactly, or an exact store with the
    estimator) rather than silently changing which near-dups drop
    (and, worse, silently missing every pre-flip doc on a later flip
    back — the inner verify join would drop candidates whose shingle
    rows were never written)."""
    hcols = [f"h{i}" for i in range(num_hashes)]

    def signatures(batch_df: DataFrame):
        sig = minhash_signature_frame(
            batch_df.select(F.col(id_col).alias(id_col), F.col(text_col)),
            text_col,
            id_col,
            num_hashes,
            shingle_n,
        )
        if not exact_verify:
            return sig
        # the exact-verify operand: each doc's distinct shingle 64-bit
        # hashes (the signature builder's own base hash), a pure Column
        # expr — no extra shuffle. Shingle-less docs have no signature
        # row, so they get no shingles row either
        sh = batch_df.select(
            F.col(id_col).alias("id"),
            F.array_distinct(
                F.transform(
                    shingles(F.col(text_col), shingle_n),
                    lambda s: F.xxhash64(s),
                )
            ).alias("__sh"),
        ).filter(F.size("__sh") > 0)
        return sig, sh

    halves = [
        Half("sigs"),
        Half(
            "bands",
            "band_hash",
            lambda sig, *_: banded_signature_frame(sig, num_hashes, num_bands),
        ),
    ]
    if exact_verify:
        halves.append(Half("shingles", rows=lambda sig, sh: sh))

    def pairs(a, b):
        def band_rows(side, tag):
            return side[1].select(
                F.col("id").alias(f"id_{tag}"), "band_id", "band_hash"
            )

        if exact_verify:
            # round(…, 6) like the batch verify (dedup.verified_near_dups):
            # without it a pair within 5e-7 of the threshold could cross
            # it on one engine only
            operand = 2
            sim = F.round(ngram_jaccard(F.col("a.__sh"), F.col("b.__sh")), 6)
        else:
            operand = 0
            sim = sum(
                F.when(F.col(f"a.{h}") == F.col(f"b.{h}"), 1).otherwise(0)
                for h in hcols
            ) / F.lit(float(num_hashes))
        return (
            band_rows(a, "a")
            .join(band_rows(b, "b"), ["band_id", "band_hash"])
            .select("id_a", "id_b")
            .distinct()
            .join(a[operand].alias("a"), F.col("id_a") == F.col("a.id"))
            .join(b[operand].alias("b"), F.col("id_b") == F.col("b.id"))
            .filter(sim >= threshold)
            .select("id_a", "id_b")
        )

    return dedup_step(
        "minhash_dedup_step", store_dir, halves, signatures, pairs,
        id_col=id_col,
        score=score,
        # geometry is part of the store's identity: stored band hashes
        # are computed over (num_hashes/num_bands) component groups and
        # signatures over shingle_n-shingles
        geometry={
            "family": "minhash",
            "num_hashes": num_hashes,
            "num_bands": num_bands,
            "shingle_n": shingle_n,
        },
        # so is the verify mode: a store carries shingles/ iff it was
        # built with exact_verify=True
        absent=None if exact_verify else {
            "shingles": "it was built with exact_verify=True but this "
            "step uses the default estimator policy — flipping the "
            "verify mode mid-store silently changes which near-dups "
            "drop; pass exact_verify=True or rebuild the store"
        },
        compact_every=compact_every,
    )


def winnow_dedup_step(
    store_dir: str,
    k: int = 5,
    window: int = 4,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
    score=None,
) -> Callable[[DataFrame, int], DataFrame]:
    """foreachBatch step for streaming CONTAINMENT dedup via winnowing
    fingerprints — the local-overlap member of the streaming dedup
    family (minhash = bag-of-shingles Jaccard, simhash = hamming,
    embedding = cosine, winnow = shared-run containment, which the
    other three miss by construction). Same wiring as
    ``simhash_dedup_step``.

    The store holds one (id, fp) row per distinct fingerprint of each
    admitted doc. A batch doc sharing >= ``min_shared`` fingerprints
    with any prior admitted doc is dropped (the SIGMOD'03 guarantee:
    any shared run of >= k+window-1 tokens forces a shared
    fingerprint, so true containment is never missed); within-batch
    overlaps go through the same pair → ``dup_clusters`` → min-id
    canonical closure as every family here. Docs too short to produce
    a fingerprint pass through, exactly like minhash's shingle-less
    docs.

    Scale shape: the probe is an equi-join keyed on the 8-byte
    fingerprint — volume ∝ collisions, the LSH-band-join shape; hot
    template fingerprints are hot join keys (AQE skew handling), and
    the batch REPORTING operator's ``df_cap`` is a pair-emission
    policy, not part of dedup semantics — a doc sharing a run with a
    thousand prior docs is exactly what containment dedup must drop."""

    def fp_builder(batch_df: DataFrame) -> DataFrame:
        return winnow_fingerprint_frame(
            batch_df, k=k, window=window, id_col=id_col, text_col=text_col
        )

    return dedup_step(
        "winnow_dedup_step", store_dir, [Half(sort_key="fp")], fp_builder,
        _containment_pairs(min_shared),
        id_col=id_col, score=score, compact_every=compact_every,
        geometry={"family": "winnow", "k": k, "window": window},
    )


def audio_segment_dedup_step(
    store_dir: str,
    min_shared_segments: int = 2,
    window: int = 64,
    hop: int = 32,
    id_col: str = "doc_id",
    binary_col: str = "data",
    decoder=None,
    compact_every: int | None = None,
    score=None,
) -> Callable[[DataFrame, int], DataFrame]:
    """foreachBatch step for streaming shared-segment AUDIO near-dedup
    — the containment member of the streaming audio family (the
    whole-clip ``audio_fp_dedup_step`` misses a clip embedded in or
    trimmed from a longer admitted file; this step's sliding-window
    segment fingerprints catch it — the video family's containment
    argument at audio granularity). Exact machinery of
    ``winnow_dedup_step`` with the fingerprint builder swapped:
    decode (Arrow-batched mapInPandas, injected codec) →
    sliding-window segment fps (``multimodal.audio_segment_fp_frame``)
    → fingerprint equi-join probe against the persisted (id, fp)
    segment store → drop on >= ``min_shared_segments`` shared
    segments. The store holds 8-byte segment fps per admitted clip —
    never PCM. Congruity with batch
    ``multimodal.audio_segment_pairs`` + min-id canonical is
    pytest-pinned with the injected byte-sensitive fake codec.

    STORE CONTRACT: (window, hop) and the segment tiling are part of
    the store's identity (see ``audio_segment_fp_frame``) — changing
    them means rebuilding the store."""
    from ..functions.multimodal import decode_audio_segment_fp_frame

    def fp_builder(batch_df: DataFrame) -> DataFrame:
        # fused decode→segment-fp pass — bit-identical tiling
        # (store contract unchanged)
        return decode_audio_segment_fp_frame(
            batch_df,
            window=window,
            hop=hop,
            binary_col=binary_col,
            id_col=id_col,
            decoder=decoder,
        )

    return dedup_step(
        "audio_segment_dedup_step", store_dir, [Half(sort_key="fp")], fp_builder,
        _containment_pairs(min_shared_segments),
        id_col=id_col, score=score, compact_every=compact_every,
        geometry={"family": "audio_segment", "window": window, "hop": hop},
    )


def video_fp_dedup_step(
    store_dir: str,
    min_shared_frames: int = 2,
    every_n: int = 1,
    id_col: str = "doc_id",
    binary_col: str = "data",
    decoder=None,
    compact_every: int | None = None,
    score=None,
) -> Callable[[DataFrame, int], DataFrame]:
    """foreachBatch step for streaming shared-frame VIDEO near-dedup —
    the video member of the streaming containment family, the exact
    machinery of ``winnow_dedup_step`` with the fingerprint builder
    swapped: decode (Arrow-batched mapInPandas, injected codec) →
    sampled per-frame perceptual hashes
    (``multimodal.video_frame_hash_frame``) → fingerprint equi-join
    probe against the persisted (id, fp) frame-hash store → drop on
    >= ``min_shared_frames`` shared frames. The store holds 8-byte
    frame hashes per admitted video — never pixels. Congruity with
    batch ``multimodal.video_fingerprint_pairs`` + min-id canonical is
    pytest-pinned with the injected fake codec (the container ships no
    real video libraries — see multimodal.py)."""
    from ..functions.multimodal import decode_video_fp_frame

    def fp_builder(batch_df: DataFrame) -> DataFrame:
        # fused decode→frame-hash pass — bit-identical hashes
        # (store contract unchanged)
        return decode_video_fp_frame(
            batch_df,
            every_n=every_n,
            binary_col=binary_col,
            id_col=id_col,
            decoder=decoder,
        )

    return dedup_step(
        "video_fp_dedup_step", store_dir, [Half(sort_key="fp")], fp_builder,
        _containment_pairs(min_shared_frames),
        id_col=id_col, score=score, compact_every=compact_every,
        geometry={"family": "video_frames", "every_n": every_n},
    )


def _containment_pairs(min_shared: int):
    """The CONTAINMENT family's candidate join plus verify over two
    (id, fp) sides (winnow: token-run fingerprints; audio/video:
    segment and frame hashes): a fingerprint equi-join, and a pair of
    docs sharing >= ``min_shared`` fingerprints is a duplicate."""

    def pairs(a, b):
        return (
            a[0].select(F.col("id").alias("id_a"), "fp")
            .join(b[0].select(F.col("id").alias("id_b"), "fp"), "fp")
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
            .select("id_a", "id_b")
        )

    return pairs


def dup_ngram_mask_step(
    store_dir: str,
    n: int = 5,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], DataFrame]:
    """foreachBatch step for streaming EXACT-SUBSTRING masking — the
    online form of ``dedup.dup_ngram_spans`` + ``mask_dup_spans`` (Lee
    et al. 2022): every token run whose n-grams have occurred >=
    ``min_count`` times across the stream SO FAR (prior batches + this
    batch) is cut from this batch's documents before emission. Unlike
    the dedup steps this step REWRITES ``text_col`` instead of dropping
    rows — document identity survives, boilerplate doesn't.

    The store holds per-batch (``__h``, ``__c``) n-gram occurrence
    counts, key-sorted so compaction merges and probes prune on the
    hash; the probe SEMI-JOINS the store against the batch's own gram
    set before aggregating (store rows for grams absent from this
    batch can't change any mask decision), so per-batch probe work is
    batch-shaped, with row-group pruning from the sort doing the rest.

    FIRST-SEEN CONTRACT (the family's standard): occurrences are
    masked from the moment the running count reaches ``min_count`` —
    an occurrence EMITTED in an earlier batch stays as emitted (an
    append sink cannot retract it), so with min_count=2 the stream
    keeps the first occurrence and masks every later one, while the
    batch twin masks ALL occurrences including the first. That is
    exactly the divergence ``test_streaming_dup_ngram_mask...`` pins;
    within one batch the two agree. Replay-idempotent like every step
    here: the store probe is partition-pruned to strictly-prior
    batches and a retry overwrites its own partition."""

    def emit(batch_df, sigs, prior):
        grams = sigs[0]
        batch_counts = grams.groupBy("__h").agg(F.count(F.lit(1)).alias("__c"))
        total = batch_counts
        if prior is not None:
            prior_counts = (
                prior()[0].join(batch_counts.select("__h"), "__h", "left_semi")
                .groupBy("__h")
                .agg(F.sum("__c").alias("__pc"))
            )
            total = batch_counts.join(prior_counts, "__h", "left").select(
                "__h",
                (F.col("__c") + F.coalesce(F.col("__pc"), F.lit(0))).alias("__c"),
            )
        dup = total.filter(F.col("__c") >= min_count).select("__h")
        hits = grams.join(dup, "__h", "left_semi").select("doc_id", "__pos")
        # the (small) span set outlives the step's signature cache
        spans = pin(island_spans(hits, n))
        return (
            mask_dup_spans(batch_df, spans, id_col=id_col, text_col=text_col),
            [batch_counts],
        )

    return store_step(
        "dup_ngram_mask_step", store_dir, [Half(sort_key="__h")],
        lambda batch_df: gram_positions(batch_df, n, id_col, text_col),
        emit,
        id_col=id_col,
        # the stored __h counts are xxhash64 over n-GRAMS: another n
        # matches no stored hash
        geometry={"family": "dup_ngram", "n": n},
        compact_every=compact_every,
    )
