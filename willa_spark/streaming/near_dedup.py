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

Per micro-batch (both families):

1. signatures of the batch docs (the SAME builders the batch operators
   use: ``minhash_signature_frame`` / ``with_simhash``);
2. CROSS-BATCH candidates: batch band/block rows equi-joined against
   the store's — a short-key join proportional to collisions, never
   all-pairs, partition-pruned to prior batches;
3. verification: simhash = exact hamming from stored signatures;
   minhash = signature-estimated Jaccard (matching components / k) —
   at 100 TB the store holds k×8-byte signatures, not text, so the
   estimator (whose error the banding already tolerates) replaces the
   exact-shingle verify; an exact dup estimates 1.0 exactly. Callers
   who need the batch pipeline's exact-verify policy opt into
   ``minhash_dedup_step(exact_verify=True)``, which stores each
   admitted doc's distinct shingle hashes and verifies exactly —
   storage grows with document length, the documented trade;
4. WITHIN-BATCH dedup: the batch family's own candidate join over the
   surviving batch docs, then ``dup_clusters`` + min-id canonical —
   identical policy to the batch pipeline;
5. the admitted docs' signatures are appended to the store under an
   ``ingest_batch=<batch_id>`` partition directory.

Exactly-once: a replayed micro-batch (foreachBatch may re-run after a
failure) OVERWRITES its own partition directory and the store probe
filters ``ingest_batch < batch_id`` — partition-pruned, so a retry
neither self-matches against its failed attempt's signatures nor
duplicates them. No session conf is touched.

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
``_drop_within_batch`` for why append-mode emission forces it).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.dedup import (
    banded_signature_frame,
    best_member_drops,
    dup_clusters,
    gram_positions,
    island_spans,
    mask_dup_spans,
    minhash_signature_frame,
    ngram_jaccard,
    shingles,
    simhash_block_frame,
    winnow_fingerprint_frame,
    winnow_pair_counts,
    with_simhash,
)


from ..pin import pin, pinned
from .store import store_append, store_compact_every, store_prune, store_read

_GEOMETRY = "_geometry.json"


def _check_store_geometry(
    store_dir: str, geometry: dict, data_dirs: list[str] | None = None
) -> None:
    """Fail loud when a store is resumed with different SIGNATURE
    GEOMETRY than it was built with (r15 review): a minhash store's
    band rows are hashes over ``num_hashes/num_bands`` component
    groups and its signatures over ``shingle_n`` shingles; a winnow
    store's fingerprints over (k, window); the segment/frame stores
    over their tiling. Probing any of them with other parameters
    matches NOTHING — every duplicate of an admitted doc silently
    re-admits — or verifies on the wrong operands. The geometry is
    recorded in an underscore-prefixed JSON (invisible to Spark's
    partition discovery, like the compaction manifest) on first use
    and compared on every step; a store whose data partitions have
    all been pruned away is fresh again and re-records. (simhash
    needs no guard: its blocks are derived at probe time from stored
    64-bit signatures, and the hamming radius is a query parameter,
    not store layout.)"""
    import json

    gpath = os.path.join(store_dir, _GEOMETRY)
    if os.path.exists(gpath):
        with open(gpath) as f:
            found = json.load(f)
        if found == geometry:
            return
        from .store import _MANIFEST, _TMP, store_partitions

        def holds_data(d: str) -> bool:
            # a pending compaction (manifest / staged tmp) means the
            # data is MID-SWAP, not pruned: a crash window between
            # "sources deleted" and "tmp renamed" shows zero
            # partitions while the merged rows still exist — treating
            # that as fresh would re-record a new geometry over data
            # the roll-forward then restores (r15 fix-review)
            return bool(
                store_partitions(d)
                or os.path.exists(os.path.join(d, _MANIFEST))
                or os.path.isdir(os.path.join(d, _TMP))
            )

        if any(holds_data(d) for d in (data_dirs or [store_dir])):
            raise RuntimeError(
                f"store at {store_dir} was built with geometry {found} "
                f"but this step uses {geometry} — probing across a "
                "geometry change silently disables or corrupts "
                "cross-batch dedup (band/fingerprint rows never match); "
                "rebuild the store (or finish pruning it) rather than "
                "changing parameters mid-store"
            )
        # fully-pruned store: no admitted signatures remain, so new
        # geometry is safe — fall through and re-record
    os.makedirs(store_dir, exist_ok=True)
    staged = gpath + ".staging"
    with open(staged, "w") as f:
        json.dump(geometry, f)
        # durability like the compaction manifest: an os.replace whose
        # staged CONTENT never hit disk leaves a zero-length record
        # that bricks every later step in json.load (r15 fix-review)
        f.flush()
        os.fsync(f.fileno())
    os.replace(staged, gpath)


def _drop_within_batch(
    pairs: DataFrame, scores: DataFrame | None = None
) -> DataFrame:
    """(__drop,) ids losing the within-batch survivor election.
    Default policy: min-id canonical — the same ``dup_clusters`` +
    keep-canonical closure as the batch pipeline. With ``scores``
    ((id, __s) for the batch's members): the HIGHEST-score member of
    each within-batch cluster survives, ties and all-NULL clusters
    falling back to min id — the exact ``dedup.keep_best`` election
    over the batch's own clusters.

    SURVIVOR-POLICY CONTRACT (VERDICT r06 #5): the score applies
    WITHIN a micro-batch only. Cross-batch, first-seen-wins is the
    only policy consistent with the steps' append-mode emission: an
    earlier batch's admitted survivor has already been EMITTED to the
    downstream sink (and typically landed/consumed) — admitting a
    better-scoring late arrival would either emit both members of the
    dup group (not a dedup) or require retracting the earlier
    emission, which an append sink cannot express (that is changelog
    semantics — the topology compiler's retraction machinery, not a
    foreachBatch parquet append). Replay idempotency also demands it:
    a replayed batch must re-derive exactly the admitted set from
    (batch content, strictly-prior store), which a
    supersede-in-place store mutation would break for any batch that
    observed the store between the original run and the replay. The
    divergence from batch ``keep_best`` (which elects over the WHOLE
    corpus) is therefore precisely: a dup whose best-scoring member
    arrives in a LATER batch than its first-seen member keeps the
    first-seen member. Pinned by
    test_streaming_score_survivor_congruity_and_divergence."""
    clusters = dup_clusters(pairs)
    if scores is None:
        return clusters.filter(F.col("id") != F.col("cluster_id")).select(
            F.col("id").alias("__drop")
        )
    # eager pin, same reason as dedup.keep_best: the member frame feeds
    # three downstream plans (best / winners / drop) and Spark does not
    # reuse subtrees — unpinned, the clusters-scores join AND the
    # caller's score expression would evaluate three times per batch.
    # The election itself is dedup.best_member_drops — the ONE kernel
    # shared with batch keep_best, so the tie-break/NULL policy the
    # congruity test pins is structural, not copy-maintained.
    member = pin(
        clusters.join(scores, "id")
        .select("cluster_id", F.col("id").alias("__m_id"), "__s")
    )
    return best_member_drops(member).select(F.col("__drop_id").alias("__drop"))


def _batch_scores(batch_df: DataFrame, id_col: str, score) -> DataFrame | None:
    """(id, __s) frame for the within-batch survivor election, or None
    for the default min-id policy. ``score`` is any Column over the
    batch's columns (e.g. ``text.quality_score(F.col("text"))``)."""
    if score is None:
        return None
    return batch_df.select(F.col(id_col).alias("id"), score.alias("__s"))


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

    return _hamming_dedup_step(
        store_dir, sig_builder, max_hamming, num_blocks, id_col, compact_every,
        score=score,
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
        # fused decode→hash pass (r16) — bit-identical to the decode +
        # with_phash chain (store contract unchanged), minus the
        # per-row interpreted threshold-hash expression
        return decode_image_phash_frame(
            batch_df, binary_col=binary_col, id_col=id_col, decoder=decoder
        )

    return _hamming_dedup_step(
        store_dir, sig_builder, max_hamming, num_blocks, id_col, compact_every,
        score=score,
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
        # fused decode→envelope→hash pass (r16) — bit-identical to the
        # decode + audio_frame_energies + with_phash chain (store
        # contract unchanged)
        return decode_audio_fp_frame(
            batch_df, binary_col=binary_col, id_col=id_col, decoder=decoder
        )

    return _hamming_dedup_step(
        store_dir, sig_builder, max_hamming, num_blocks, id_col, compact_every,
        score=score,
    )


def _hamming_dedup_step(
    store_dir: str,
    sig_builder: Callable[[DataFrame], DataFrame],
    max_hamming: int,
    num_blocks: int | None,
    id_col: str,
    compact_every: int | None,
    score=None,
) -> Callable[[DataFrame, int], DataFrame]:
    """The shared 64-bit-hamming streaming dedup kernel: cross-batch
    drops via block equi-join against the strictly-prior (id, simhash)
    store, within-batch via the pigeonhole self-join + min-id
    canonical, admitted signatures appended idempotently.
    ``sig_builder(batch_df) -> (id, simhash)`` is the only
    family-specific piece (simhash: text Pandas UDF; phash: decode +
    threshold bits)."""
    from ..functions.dedup import check_pigeonhole

    num_blocks = check_pigeonhole(max_hamming, num_blocks)

    def step(batch_df: DataFrame, batch_id: int) -> DataFrame:
        spark = batch_df.sparkSession
        store_compact_every(spark, [(store_dir, None)], batch_id, compact_every)
        scores = _batch_scores(batch_df, id_col, score)
        sh = sig_builder(batch_df)
        # release on EVERY exit: an exception path that skipped the
        # unpersists would leak cache entries on each retry of a
        # long-running stream
        with pinned() as keep:
            hamming = F.bit_count(
                F.col("simhash").bitwiseXOR(F.col("__st_simhash"))
            )

            cross_drop = None
            # store_read's fail-loud guards run BEFORE the eager pin:
            # a guard-failing retry must not pay the decode cost just
            # to raise
            store = store_read(spark, store_dir, before_batch=batch_id)
            # EAGER pin (count populates the cache in one job): blocks
            # embeds sig_builder's plan — for phash/audio that is the
            # mapInPandas decode, the dominant per-row cost — and its
            # first consumer below is a self-join whose two map stages
            # (plus the cross probe) would otherwise race-compute the
            # builder 2-4x before a lazy cache fills (same reason
            # dedup.hamming_block_pairs pins eagerly)
            blocks = pruned = keep(simhash_block_frame(sh, num_blocks))
            if store is not None:
                st_blocks = simhash_block_frame(
                    store.select(F.col("id"), F.col("simhash")), num_blocks
                ).select(
                    F.col("id").alias("__st_id"),
                    F.col("simhash").alias("__st_simhash"),
                    "block_id",
                    "block_val",
                )
                cross_drop = (
                    blocks.join(st_blocks, ["block_id", "block_val"])
                    .filter(hamming <= max_hamming)
                    .select(F.col("id").alias("__drop"))
                    .distinct()
                )
                pruned = keep(  # feeds both sides of the self-join
                    blocks.join(
                        cross_drop, blocks["id"] == F.col("__drop"), "left_anti"
                    )
                )

            l, r = pruned.alias("l"), pruned.alias("r")
            within_pairs = (
                l.join(
                    r,
                    (F.col("l.block_id") == F.col("r.block_id"))
                    & (F.col("l.block_val") == F.col("r.block_val"))
                    & (F.col("l.id") < F.col("r.id")),
                )
                .filter(
                    F.bit_count(
                        F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
                    )
                    <= max_hamming
                )
                .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
                .distinct()
            )
            within_drop = _drop_within_batch(within_pairs, scores)
            drops = (
                within_drop if cross_drop is None
                else cross_drop.unionByName(within_drop).distinct()
            )
            # pin the (tiny, ids-only) drop set so every cached frame
            # can be released before returning
            drops = pin(drops)
            # derive the admitted signatures from the PERSISTED blocks
            # frame (one (id, simhash) row per id after dedup), not
            # from `sh`: sh re-evaluates sig_builder, and for
            # phash_dedup_step that means running the mapInPandas
            # decode a second time per micro-batch just for the store
            # append
            admitted_sh = (
                blocks.select("id", "simhash")
                .dropDuplicates(["id"])
                .join(drops, F.col("id") == F.col("__drop"), "left_anti")
            )
            store_append(admitted_sh, store_dir, batch_id)
        return batch_df.join(
            drops, batch_df[id_col] == F.col("__drop"), "left_anti"
        )

    return step


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

    def est_jaccard(a_prefix: str, b_prefix: str):
        matches = sum(
            F.when(
                F.col(f"{a_prefix}.{h}") == F.col(f"{b_prefix}.{h}"), 1
            ).otherwise(0)
            for h in hcols
        )
        return matches / F.lit(float(num_hashes))

    # the ONE derivation of the three halves' paths (step + body both
    # use them; two copies could drift)
    sig_store_dir = os.path.join(store_dir, "sigs")
    band_store_dir = os.path.join(store_dir, "bands")
    sh_store_dir = os.path.join(store_dir, "shingles")

    def step(batch_df: DataFrame, batch_id: int) -> DataFrame:
        spark = batch_df.sparkSession
        # geometry is part of the store's identity: stored band hashes
        # are computed over (num_hashes/num_bands) component groups
        # and signatures over shingle_n-shingles — resuming with other
        # values silently matches nothing. The verify
        # MODE has its own structural guard below.
        _check_store_geometry(
            store_dir,
            {
                "family": "minhash",
                "num_hashes": num_hashes,
                "num_bands": num_bands,
                "shingle_n": shingle_n,
            },
            data_dirs=[sig_store_dir, band_store_dir, sh_store_dir],
        )
        scores = _batch_scores(batch_df, id_col, score)
        compact_targets = [
            (sig_store_dir, None),
            (band_store_dir, "band_hash"),
        ]
        if exact_verify:
            compact_targets.append((sh_store_dir, None))
        store_compact_every(spark, compact_targets, batch_id, compact_every)
        sig = minhash_signature_frame(
            batch_df.select(F.col(id_col).alias(id_col), F.col(text_col)),
            text_col,
            id_col,
            num_hashes,
            shingle_n,
        )
        sh_frame = None
        if exact_verify:
            # the exact-verify operand: each doc's distinct shingle
            # 64-bit hashes (the signature builder's own base hash), a
            # pure Column expr — no extra shuffle; pinned because it
            # feeds up to three plans (cross verify, within verify,
            # store append)
            sh_frame = batch_df.select(
                F.col(id_col).alias("id"),
                F.array_distinct(
                    F.transform(
                        shingles(F.col(text_col), shingle_n),
                        lambda s: F.xxhash64(s),
                    )
                ).alias("__sh"),
            )
        # every frame the body pins is released on EVERY exit, or each
        # retry of a long-running stream would leak cache entries
        with pinned() as keep:
            return _minhash_step_body(
                spark, batch_df, batch_id, sig, sh_frame, scores, keep
            )

    def _minhash_step_body(
        spark, batch_df, batch_id, sig, sh_frame, scores, keep
    ):
        cross_drop = None
        st_bands = store_read(spark, band_store_dir, before_batch=batch_id)
        st_sigs_raw = store_read(spark, sig_store_dir, before_batch=batch_id)
        st_sh = None
        if exact_verify:
            st_sh = store_read(spark, sh_store_dir, before_batch=batch_id)
            if (st_sigs_raw is None) != (st_sh is None):
                raise RuntimeError(
                    f"minhash store at {store_dir} does not match "
                    "exact_verify=True: "
                    + (
                        "the shingles half is missing — the store was "
                        "built with the default estimator policy"
                        if st_sh is None
                        else "a shingles half exists with no sigs half — "
                        "halves were pruned independently"
                    )
                    + "; the verify mode is part of the store contract — "
                    "rebuild (or minhash_store_prune) rather than "
                    "flipping it"
                )
        elif os.path.isdir(sh_store_dir):
            raise RuntimeError(
                f"minhash store at {store_dir} carries a shingles/ half "
                "(built with exact_verify=True) but this step was created "
                "with the default estimator policy — flipping the verify "
                "mode mid-store silently changes which near-dups drop, "
                "and docs admitted estimator-side would be missing from "
                "shingles/ on a later flip back (silent candidate loss); "
                "pass exact_verify=True or rebuild the store"
            )
        if (st_bands is None) != (st_sigs_raw is None):
            # the two halves are coupled (bands locate, sigs verify);
            # one missing with the other present means a caller pruned
            # them independently (store_prune removes a fully-emptied
            # store root) — deduping from that state would silently
            # miss or mis-verify candidates. minhash_store_prune
            # removes both halves together.
            raise RuntimeError(
                f"minhash store at {store_dir} is inconsistent: "
                f"{'bands' if st_sigs_raw is None else 'sigs'} half exists "
                f"but the other is missing — prune both halves together "
                f"(minhash_store_prune)"
            )
        # pinned AFTER the cheap fail-loud guards above (a
        # guard-failing retry must not pay the builder cost just to
        # raise): sig (and the shingle operand) feed multiple join
        # arms below, so populate the cache in one job instead of
        # letting concurrent map stages race-compute the builders
        if sh_frame is None:
            sig = keep(sig)
        else:
            sig, sh_frame = keep(sig, sh_frame)
        if st_bands is not None:
            bands = banded_signature_frame(sig, num_hashes, num_bands)
            st_sigs = st_sigs_raw.select(F.col("id").alias("__st_id"), *hcols)
            cand = (
                bands.join(
                    st_bands.select(
                        F.col("id").alias("__st_id"), "band_id", "band_hash"
                    ),
                    ["band_id", "band_hash"],
                )
                .select("id", "__st_id")
                .distinct()
            )
            if exact_verify:
                st_shs = st_sh.select(
                    F.col("id").alias("__st_id"), F.col("__sh").alias("__st_sh")
                )
                cross_drop = (
                    cand.join(sh_frame, "id")
                    .join(st_shs, "__st_id")
                    .filter(
                        # round(…, 6) like the batch verify
                        # (dedup.verified_near_dups): without it a pair
                        # within 5e-7 of the threshold could cross it
                        # on one engine only
                        F.round(
                            ngram_jaccard(F.col("__sh"), F.col("__st_sh")), 6
                        )
                        >= threshold
                    )
                    .select(F.col("id").alias("__drop"))
                    .distinct()
                )
            else:
                cross_drop = (
                    cand.join(sig.alias("b"), "id")
                    .join(st_sigs.alias("s"), "__st_id")
                    .filter(est_jaccard("b", "s") >= threshold)
                    .select(F.col("id").alias("__drop"))
                    .distinct()
                )
            # feeds both sides of the self-join
            sig_left = keep(
                sig.join(cross_drop, sig["id"] == F.col("__drop"), "left_anti")
            )
        else:
            sig_left = sig
        bands_left = banded_signature_frame(sig_left, num_hashes, num_bands)

        l, r = bands_left.alias("lb"), bands_left.alias("rb")
        within_cand = (
            l.join(
                r,
                (F.col("lb.band_id") == F.col("rb.band_id"))
                & (F.col("lb.band_hash") == F.col("rb.band_hash"))
                & (F.col("lb.id") < F.col("rb.id")),
            )
            .select(F.col("lb.id").alias("id_a"), F.col("rb.id").alias("id_b"))
            .distinct()
        )
        if exact_verify:
            sh_a = sh_frame.select(
                F.col("id").alias("id_a"), F.col("__sh").alias("__sh_a")
            )
            sh_b = sh_frame.select(
                F.col("id").alias("id_b"), F.col("__sh").alias("__sh_b")
            )
            within_pairs = (
                within_cand.join(sh_a, "id_a")
                .join(sh_b, "id_b")
                .filter(
                    # 6dp rounding, matching the batch verify (above)
                    F.round(
                        ngram_jaccard(F.col("__sh_a"), F.col("__sh_b")), 6
                    )
                    >= threshold
                )
                .select("id_a", "id_b")
            )
        else:
            a = sig_left.alias("a")
            b = sig_left.alias("b")
            within_pairs = (
                within_cand.join(a, F.col("id_a") == F.col("a.id"))
                .join(b, F.col("id_b") == F.col("b.id"))
                .filter(est_jaccard("a", "b") >= threshold)
                .select("id_a", "id_b")
            )
        within_drop = _drop_within_batch(within_pairs, scores)
        drops = (
            within_drop if cross_drop is None
            else cross_drop.unionByName(within_drop).distinct()
        )
        # pin the (tiny, ids-only) drop set eagerly so the cached
        # signature frames can be released before returning — a
        # long-running stream must not accumulate cache entries
        drops = pin(drops)
        admitted_sigs = keep(
            sig_left.join(drops, sig_left["id"] == F.col("__drop"), "left_anti")
        )
        store_append(admitted_sigs, sig_store_dir, batch_id)
        store_append(
            banded_signature_frame(admitted_sigs, num_hashes, num_bands),
            band_store_dir,
            batch_id,
            sort_by="band_hash",
        )
        if exact_verify:
            # shingles/ ids mirror sigs/ ids exactly (shingle-less docs
            # have neither row — they pass through, see the return note)
            store_append(
                sh_frame.join(admitted_sigs.select("id"), "id", "left_semi"),
                sh_store_dir,
                batch_id,
            )
        # drop-based return (NOT a semi-join on signature-bearing ids):
        # documents with fewer than shingle_n tokens have no shingles,
        # hence no signature row — they can never near-dup anything and
        # must PASS THROUGH, exactly as the batch pipeline keeps docs
        # with no candidate pairs. A semi-join on sig ids silently
        # deleted them from the stream.
        return batch_df.join(
            drops, batch_df[id_col] == F.col("__drop"), "left_anti"
        )

    return step


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

    return _containment_dedup_step(
        store_dir, fp_builder, min_shared, id_col, compact_every, score,
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
        # fused decode→segment-fp pass (r16) — bit-identical tiling
        # (store contract unchanged)
        return decode_audio_segment_fp_frame(
            batch_df,
            window=window,
            hop=hop,
            binary_col=binary_col,
            id_col=id_col,
            decoder=decoder,
        )

    return _containment_dedup_step(
        store_dir, fp_builder, min_shared_segments, id_col, compact_every,
        score,
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
        # fused decode→frame-hash pass (r16) — bit-identical hashes
        # (store contract unchanged)
        return decode_video_fp_frame(
            batch_df,
            every_n=every_n,
            binary_col=binary_col,
            id_col=id_col,
            decoder=decoder,
        )

    return _containment_dedup_step(
        store_dir, fp_builder, min_shared_frames, id_col, compact_every, score,
        geometry={"family": "video_frames", "every_n": every_n},
    )


def _containment_dedup_step(
    store_dir: str,
    fp_builder: Callable[[DataFrame], DataFrame],
    min_shared: int,
    id_col: str,
    compact_every: int | None,
    score,
    geometry: dict | None = None,
) -> Callable[[DataFrame, int], DataFrame]:
    """The shared CONTAINMENT streaming dedup kernel (winnow: token-run
    fingerprints; video: frame perceptual hashes): cross-batch drops
    via fp equi-join against the strictly-prior (id, fp) store at the
    >= ``min_shared`` threshold, within-batch via the pair-count
    self-join + survivor election, admitted fingerprints appended
    idempotently (fp-clustered). ``fp_builder(batch_df) -> (id, fp)``
    is the family-specific piece; ``geometry`` records the builder
    parameters that define the stored fingerprints' identity and fails
    loud on a mid-store change (``_check_store_geometry``)."""

    def step(batch_df: DataFrame, batch_id: int) -> DataFrame:
        spark = batch_df.sparkSession
        if geometry is not None:
            _check_store_geometry(store_dir, geometry)
        scores = _batch_scores(batch_df, id_col, score)
        store_compact_every(spark, [(store_dir, "fp")], batch_id, compact_every)
        # released on EVERY exit — exception paths must not leak cache
        # entries across retries
        with pinned() as keep:
            cross_drop = None
            # guards (store_read's pending-manifest check) before the
            # eager pin — failing retries stay builder-cost-free
            store = store_read(spark, store_dir, before_batch=batch_id)
            # EAGER pin: fpb embeds the builder's plan (for audio/video
            # the mapInPandas decode — the dominant cost) and feeds the
            # cross probe plus both sides of the pair-count self-join;
            # a lazy cache would let those stages race-compute the
            # builder
            fpb = pruned = keep(fp_builder(batch_df))
            if store is not None:
                cross_drop = (
                    fpb.join(
                        store.withColumnRenamed("id", "__st_id"), "fp"
                    )
                    .groupBy("id", "__st_id")
                    .agg(F.count(F.lit(1)).alias("n_shared"))
                    .filter(F.col("n_shared") >= min_shared)
                    .select(F.col("id").alias("__drop"))
                    .distinct()
                )
                pruned = keep(  # both self-join sides
                    fpb.join(cross_drop, fpb["id"] == F.col("__drop"), "left_anti")
                )

            within_pairs = (
                winnow_pair_counts(pruned)
                .filter(F.col("n_shared") >= min_shared)
                .select("id_a", "id_b")
            )
            within_drop = _drop_within_batch(within_pairs, scores)
            drops = (
                within_drop if cross_drop is None
                else cross_drop.unionByName(within_drop).distinct()
            )
            # pin the ids-only drop set eagerly so cached fingerprint
            # frames release before returning (no per-batch cache
            # buildup)
            drops = pin(drops)
            admitted_fp = pruned.join(
                drops, pruned["id"] == F.col("__drop"), "left_anti"
            )
            store_append(admitted_fp, store_dir, batch_id, sort_by="fp")
        # drop-based return: fingerprint-less (short) docs pass through
        return batch_df.join(
            drops, batch_df[id_col] == F.col("__drop"), "left_anti"
        )

    return step


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

    def step(batch_df: DataFrame, batch_id: int) -> DataFrame:
        spark = batch_df.sparkSession
        # the stored __h counts are xxhash64 over n-GRAMS: resuming
        # with a different n matches no stored hash and silently
        # ignores every prior-batch count (the same failure class the
        # dedup families' geometry guard closes)
        _check_store_geometry(store_dir, {"family": "dup_ngram", "n": n})
        store_compact_every(
            spark, [(store_dir, "__h")], batch_id, compact_every
        )
        # released on EVERY exit: exception paths must not leak one
        # cached gram frame per retry
        with pinned() as keep:
            # guards (store_read's pending-manifest check) before the
            # eager pin — failing retries stay builder-cost-free
            st = store_read(spark, store_dir, before_batch=batch_id)
            # feeds counts, hits, the store append
            grams = keep(gram_positions(batch_df, n, id_col, text_col))
            batch_counts = grams.groupBy("__h").agg(
                F.count(F.lit(1)).alias("__c")
            )
            if st is not None:
                prior = (
                    st.join(batch_counts.select("__h"), "__h", "left_semi")
                    .groupBy("__h")
                    .agg(F.sum("__c").alias("__pc"))
                )
                total = batch_counts.join(prior, "__h", "left").select(
                    "__h",
                    (F.col("__c") + F.coalesce(F.col("__pc"), F.lit(0))).alias(
                        "__t"
                    ),
                )
            else:
                total = batch_counts.select("__h", F.col("__c").alias("__t"))
            dup = total.filter(F.col("__t") >= min_count).select("__h")
            hits = grams.join(dup, "__h", "left_semi").select(
                "doc_id", "__pos"
            )
            spans = island_spans(hits, n)
            # pin the (small) span set eagerly so the gram cache can be
            # released before returning — long streams must not
            # accumulate
            spans = pin(spans)
            store_append(batch_counts, store_dir, batch_id, sort_by="__h")
        return mask_dup_spans(
            batch_df, spans, id_col=id_col, text_col=text_col
        )

    return step
