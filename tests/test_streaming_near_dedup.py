"""Streaming near-dedup (foreachBatch + persisted signature store):
congruity with the batch minhash/simhash pipelines, and replay
idempotency of the partitioned store."""

import os
import time

import pytest
from pyspark.sql import functions as F

from willa_spark.functions import dedup as D
from willa_spark.streaming.near_dedup import minhash_dedup_step, simhash_dedup_step

# Unique docs use disjoint vocab so only PLANTED duplicates pair at any
# radius; every text has >= 3 tokens (shingle-able for minhash n=3).
T = {
    1: "alpha bravo charlie delta echo foxtrot",
    2: "golf hotel india juliett kilo lima",
    3: "mike november oscar papa quebec romeo",
    4: "sierra tango uniform victor whiskey xray",
    6: "yankee zulu apple banana cherry date",
    10: "elder fig grape honey iris jasmine",
}
BATCH1 = [(1, T[1]), (2, T[2]), (3, T[3]), (4, T[4])]
BATCH2 = [(5, T[2]), (6, T[6]), (7, "same same same words here now"), (8, "same same same words here now")]
BATCH3 = [(9, T[2]), (10, T[10])]
ALL = BATCH1 + BATCH2 + BATCH3
# 5 and 9 duplicate 2 (a transitive cross-batch chain); 8 duplicates 7
# within one batch -> survivors are the first-seen / min-id reps
EXPECT = {1, 2, 3, 4, 6, 7, 10}


def _mkdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _drive_stream(spark, tmp_path, step):
    """Feed the three batches through a REAL readStream → foreachBatch
    pipeline (one file per micro-batch) and collect admitted ids."""
    d = os.path.join(str(tmp_path), "in")
    os.makedirs(d)
    for rows in (BATCH1, BATCH2, BATCH3):
        _mkdocs(spark, rows).coalesce(1).write.mode("append").parquet(d)
        time.sleep(0.05)  # later mtime -> later micro-batch
    schema = spark.read.parquet(d).schema
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    admitted: list = []

    def sink(batch_df, batch_id):
        admitted.extend(
            r["doc_id"] for r in step(batch_df, batch_id).select("doc_id").collect()
        )

    q = (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(str(tmp_path), "chk"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "stream did not drain"
    return admitted


def _batch_survivors_simhash(spark):
    docs = _mkdocs(spark, ALL)
    pairs = D.simhash_near_dups(docs, max_hamming=3)
    kept = D.keep_canonical(docs, D.dup_clusters(pairs.select("id_a", "id_b")))
    return {r["doc_id"] for r in kept.collect()}


def test_streaming_simhash_dedup_congruity(spark, tmp_path):
    """Id-ordered ingestion of exact dups: the streaming first-seen
    policy must equal the batch min-id canonical policy — including a
    transitive chain spanning three micro-batches and a within-batch
    pair."""
    store = os.path.join(str(tmp_path), "store")
    step = simhash_dedup_step(store, max_hamming=3)
    got = _drive_stream(spark, tmp_path, step)
    assert len(got) == len(set(got)), "a doc was admitted twice"
    assert set(got) == EXPECT == _batch_survivors_simhash(spark)


def test_streaming_minhash_dedup_congruity(spark, tmp_path):
    """Same congruity through the minhash store (signature-estimated
    Jaccard: exact dups estimate exactly 1.0)."""
    store = os.path.join(str(tmp_path), "store")
    step = minhash_dedup_step(store, threshold=0.8, num_hashes=32, num_bands=16)
    got = _drive_stream(spark, tmp_path, step)
    docs = _mkdocs(spark, ALL)
    cands = D.minhash_candidate_pairs(docs, num_hashes=32, num_bands=16)
    pairs = D.verified_near_dups(docs, cands, threshold=0.8)
    kept = D.keep_canonical(docs, D.dup_clusters(pairs.select("id_a", "id_b")))
    batch_set = {r["doc_id"] for r in kept.collect()}
    assert set(got) == EXPECT == batch_set


def test_streaming_dedup_replay_is_idempotent(spark, tmp_path):
    """foreachBatch may re-run a failed micro-batch: the replay must
    overwrite its own ingest_batch partition and probe only PRIOR
    batches — same admitted set, no self-matching against the failed
    attempt's signatures, no duplicated store rows."""
    store = os.path.join(str(tmp_path), "store")
    step = simhash_dedup_step(store, max_hamming=3)
    step(_mkdocs(spark, BATCH1), 0).collect()
    first = {r["doc_id"] for r in step(_mkdocs(spark, BATCH2), 1).collect()}
    replay = {r["doc_id"] for r in step(_mkdocs(spark, BATCH2), 1).collect()}
    assert first == replay == {6, 7}
    stored = spark.read.parquet(store)
    assert stored.count() == stored.select("id").distinct().count()
    assert {r["id"] for r in stored.select("id").collect()} == {1, 2, 3, 4, 6, 7}


def test_streaming_minhash_passes_short_docs_through(spark, tmp_path):
    """Docs with fewer than shingle_n tokens have no shingles, hence no
    minhash signature — they can never near-dup anything and must PASS
    THROUGH, exactly as the batch pipeline keeps docs with no candidate
    pairs. (A signature-id semi-join used to silently delete them.)"""
    store = os.path.join(str(tmp_path), "store")
    step = minhash_dedup_step(store, threshold=0.5)
    b1 = _mkdocs(spark, [(1, T[1]), (2, "hi"), (3, "")])
    b2 = _mkdocs(spark, [(4, T[1]), (5, "hi")])
    got1 = {r["doc_id"] for r in step(b1, 0).collect()}
    got2 = {r["doc_id"] for r in step(b2, 1).collect()}
    # 1 kept; short docs 2/3 pass through; 4 is a cross-batch dup of 1
    # (dropped); 5 is a short doc again — passes (no shingle identity)
    assert got1 == {1, 2, 3}
    assert got2 == {5}


def test_streaming_winnow_containment_dedup(spark, tmp_path):
    """The containment member of the streaming family: a doc embedding
    a >= k+window-1-token run of a PRIOR admitted doc is dropped even
    though it is no whole-doc near-dup (distinct tail), a within-batch
    overlapping pair keeps its min id, short docs pass through, and
    the admitted set equals the batch twin (winnow_overlap_pairs →
    clusters → min-id canonical) under id-ordered arrival."""
    from willa_spark.streaming.near_dedup import winnow_dedup_step

    run = "alpha beaver cedar dolphin ember falcon gibbon heron"  # 8 tokens
    docs = {
        1: run + " ibex jackal kestrel lemur",
        2: "marten nutria ocelot pelican quokka raccoon seagull tapir",
        3: run + " uniform victor whiskey xray yankee",   # contains 1's run
        4: "zz",                                          # short: passes
        5: "banana cherry date elder fig grape honey iris",
        6: "banana cherry date elder fig grape honey iris plus tail",  # contains 5's run (within batch)
    }
    b1, b2 = [1, 2], [3, 4, 5, 6]
    mk = lambda ids: spark.createDataFrame(
        [(i, docs[i]) for i in ids], "doc_id bigint, text string"
    )
    store = os.path.join(str(tmp_path), "winnow-store")
    step = winnow_dedup_step(store, k=5, window=4)
    got1 = {r["doc_id"] for r in step(mk(b1), 0).collect()}
    got2 = {r["doc_id"] for r in step(mk(b2), 1).collect()}
    assert got1 == {1, 2}
    # 3 dropped (cross-batch containment of 1's run), 6 dropped
    # (within-batch overlap with 5; min id 5 survives), 4 passes
    assert got2 == {4, 5}

    # replay idempotency: same admitted set, no duplicated store rows
    again = {r["doc_id"] for r in step(mk(b2), 1).collect()}
    assert again == got2
    stored = spark.read.parquet(store).select("id", "fp")
    assert stored.count() == stored.distinct().count()
    assert {r["id"] for r in stored.select("id").distinct().collect()} == {1, 2, 5}

    # batch twin congruity (id-ordered arrival ⇒ first-seen = min-id)
    full = mk(sorted(docs))
    pairs = D.winnow_overlap_pairs(full, k=5, window=4, df_cap=None).select(
        "id_a", "id_b"
    )
    kept = D.keep_canonical(full, D.dup_clusters(pairs))
    assert {r["doc_id"] for r in kept.collect()} == got1 | got2


def test_streaming_phash_dedup_congruity_and_replay(spark, tmp_path):
    """The image member of the streaming hamming family: byte-identical
    payloads are dropped cross-batch (against the persisted hash
    store) and within-batch (min-id canonical), the admitted set
    equals the batch twin (image_phash_pairs → clusters → min-id
    canonical) under id-ordered arrival, and a replayed batch is
    idempotent. Uses the injected byte-sensitive fake codec — the
    container ships no real image libraries."""
    from willa_spark.functions.multimodal import (
        fake_image_decoder_8x8,
        image_phash_pairs,
    )
    from willa_spark.streaming.near_dedup import phash_dedup_step

    import hashlib

    # digest-derived payloads: near-identical strings (e.g. "img 2" vs
    # "img 3") legitimately land within the hamming radius — pHash
    # doing its job — so distinct test images need genuinely distinct
    # bytes
    payload = lambda i: hashlib.sha256(str(i).encode()).digest() * 4
    rows = {i: payload(i) for i in (1, 2, 3, 4, 6)}
    rows[5] = rows[2]   # cross-batch twin of 2
    rows[7] = rows[6]   # within-batch twin of 6
    b1 = [(i, rows[i]) for i in (1, 2, 3)]
    b2 = [(i, rows[i]) for i in (4, 5, 6, 7)]
    mk = lambda b: spark.createDataFrame(b, "doc_id bigint, data binary")

    store = os.path.join(str(tmp_path), "phash-store")
    step = phash_dedup_step(store, max_hamming=3, decoder=fake_image_decoder_8x8)
    got1 = {r["doc_id"] for r in step(mk(b1), 0).collect()}
    got2 = {r["doc_id"] for r in step(mk(b2), 1).collect()}
    assert got1 == {1, 2, 3}
    assert got2 == {4, 6}  # 5 cross-batch dup of 2, 7 within-batch dup of 6

    replay = {r["doc_id"] for r in step(mk(b2), 1).collect()}
    assert replay == got2
    stored = spark.read.parquet(store)
    assert stored.count() == stored.select("id").distinct().count()
    assert {r["id"] for r in stored.select("id").collect()} == {1, 2, 3, 4, 6}

    full = spark.createDataFrame(sorted(rows.items()), "doc_id bigint, data binary")
    pairs = image_phash_pairs(
        full, max_hamming=3, id_col="doc_id", decoder=fake_image_decoder_8x8
    ).select("id_a", "id_b")
    kept = D.keep_canonical(full, D.dup_clusters(pairs))
    assert {r["doc_id"] for r in kept.collect()} == got1 | got2


def test_streaming_phash_through_real_readstream(spark, tmp_path):
    """The image dedup step driven by a REAL Structured Streaming
    query over a binary-column parquet stream (one file per
    micro-batch): admitted ids match the direct-call path — binary
    payloads survive the readStream round-trip byte-exactly."""
    import hashlib

    from willa_spark.functions.multimodal import fake_image_decoder_8x8
    from willa_spark.streaming.near_dedup import phash_dedup_step

    payload = lambda i: hashlib.sha256(str(i).encode()).digest() * 4
    b1 = [(1, payload(1)), (2, payload(2))]
    b2 = [(3, payload(3)), (4, payload(2))]  # 4 dups 2 cross-batch
    d = os.path.join(str(tmp_path), "in")
    os.makedirs(d)
    for rows in (b1, b2):
        spark.createDataFrame(rows, "doc_id bigint, data binary").coalesce(
            1
        ).write.mode("append").parquet(d)
        time.sleep(0.05)
    schema = spark.read.parquet(d).schema
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    step = phash_dedup_step(
        os.path.join(str(tmp_path), "store"),
        max_hamming=3,
        decoder=fake_image_decoder_8x8,
    )
    admitted: list = []

    def sink(batch_df, batch_id):
        admitted.extend(
            r["doc_id"] for r in step(batch_df, batch_id).select("doc_id").collect()
        )

    q = (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(str(tmp_path), "chk"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "stream did not drain"
    assert sorted(admitted) == [1, 2, 3]


def test_minhash_paired_store_prune_and_inconsistency_guard(spark, tmp_path):
    """The minhash store is two coupled halves (sigs locate nothing,
    bands verify nothing — each needs the other). Pruning only one
    half fully (store_prune removes an emptied store root) must fail
    the next micro-batch LOUDLY instead of silently mis-deduping, and
    minhash_store_prune must prune both halves together so the stream
    keeps running with the windowed-dedup semantics."""
    import pytest

    from willa_spark.streaming.near_dedup import minhash_store_prune
    from willa_spark.streaming.store import store_partitions, store_prune

    store = os.path.join(str(tmp_path), "store")
    step = minhash_dedup_step(store, threshold=0.8)
    step(_mkdocs(spark, BATCH1), 0).collect()
    step(_mkdocs(spark, BATCH2), 1).collect()

    # coupled prune: both halves lose the same partitions, stream continues
    assert minhash_store_prune(store, before_batch=1) == 1
    assert store_partitions(os.path.join(store, "sigs")) == [1]
    assert store_partitions(os.path.join(store, "bands")) == [1]
    # doc 13 still dups doc 6's signature (admitted in the RETAINED
    # batch 1); copies of batch-0 docs (1 and 2 — doc 5's T[2] copy was
    # dropped in batch 1, so T[2] lived only in the pruned partition)
    # are re-admitted: the documented windowed-dedup forgetting trade
    got = {
        r["doc_id"]
        for r in step(
            _mkdocs(spark, [(9, T[2]), (11, T[1]), (13, T[6])]), 2
        ).collect()
    }
    assert got == {9, 11}

    # inconsistent halves (sigs fully pruned, bands left) fail loud
    store_prune(os.path.join(store, "sigs"), before_batch=10)
    with pytest.raises(RuntimeError, match="inconsistent"):
        step(_mkdocs(spark, [(12, T[3])]), 3)


def test_streaming_audio_fp_dedup_congruity_and_replay(spark, tmp_path):
    """The audio member of the streaming hamming family (completing
    the text/image/audio trio): byte-identical PCM payloads are
    dropped cross-batch (against the persisted fingerprint store) and
    within-batch (min-id canonical), the admitted set equals the
    batch twin (audio_fingerprint_pairs → clusters → min-id
    canonical) under id-ordered arrival, and a replayed batch is
    idempotent. Uses the injected byte-sensitive fake codec — the
    container ships no real audio libraries."""
    from willa_spark.functions.multimodal import (
        audio_fingerprint_pairs,
        fake_audio_decoder_pcm,
    )
    from willa_spark.streaming.near_dedup import audio_fp_dedup_step

    import hashlib

    payload = lambda i: hashlib.sha256(str(i).encode()).digest() * 4
    rows = {i: payload(i) for i in (1, 2, 3, 4, 6)}
    rows[5] = rows[2]   # cross-batch twin of 2
    rows[7] = rows[6]   # within-batch twin of 6
    b1 = [(i, rows[i]) for i in (1, 2, 3)]
    b2 = [(i, rows[i]) for i in (4, 5, 6, 7)]
    mk = lambda b: spark.createDataFrame(b, "doc_id bigint, data binary")

    store = os.path.join(str(tmp_path), "audio-store")
    step = audio_fp_dedup_step(store, max_hamming=3, decoder=fake_audio_decoder_pcm)
    got1 = {r["doc_id"] for r in step(mk(b1), 0).collect()}
    got2 = {r["doc_id"] for r in step(mk(b2), 1).collect()}
    assert got1 == {1, 2, 3}
    assert got2 == {4, 6}  # 5 cross-batch dup of 2, 7 within-batch dup of 6

    replay = {r["doc_id"] for r in step(mk(b2), 1).collect()}
    assert replay == got2
    stored = spark.read.parquet(store)
    assert stored.count() == stored.select("id").distinct().count()
    assert {r["id"] for r in stored.select("id").collect()} == {1, 2, 3, 4, 6}

    full = spark.createDataFrame(sorted(rows.items()), "doc_id bigint, data binary")
    pairs = audio_fingerprint_pairs(
        full, max_hamming=3, id_col="doc_id", decoder=fake_audio_decoder_pcm
    ).select("id_a", "id_b")
    kept = D.keep_canonical(full, D.dup_clusters(pairs))
    assert {r["doc_id"] for r in kept.collect()} == got1 | got2


def test_streaming_score_survivor_congruity_and_divergence(spark, tmp_path):
    """Quality-aware survivor policy in streaming (VERDICT r06 #5):
    with ``score=``, co-arriving dups elect the HIGHEST-score member
    (ties/all-NULL -> min id) — congruent with batch ``keep_best``
    when the cluster co-arrives — while a better-scoring dup arriving
    in a LATER batch is still dropped: first-seen-wins cross-batch is
    forced by append-mode emission (the earlier survivor was already
    emitted; see _drop_within_batch). This test pins BOTH sides of
    that contract, plus replay idempotency."""
    import hashlib

    word = lambda i: hashlib.sha256(str(i).encode()).hexdigest()
    text = lambda i: " ".join(word(i * 10 + j) for j in range(12))
    # clusters: {1,2} co-arrive (q 0.2 vs 0.9), {3,4} co-arrive (NULL
    # scores), {5,6} straddle batches (q 0.1 first, 0.9 late)
    rows = {
        1: (text(1), 0.2), 2: (text(1), 0.9),
        3: (text(3), None), 4: (text(3), None),
        5: (text(5), 0.1), 6: (text(5), 0.9),
        7: (text(7), 0.5),  # unclustered, survives untouched
    }
    mk = lambda ids: spark.createDataFrame(
        [(i, rows[i][0], rows[i][1]) for i in ids],
        "doc_id bigint, text string, q double",
    )
    from willa_spark.streaming.near_dedup import simhash_dedup_step

    store = os.path.join(str(tmp_path), "score-store")
    step = simhash_dedup_step(store, max_hamming=3, score=F.col("q"))
    got1 = {r["doc_id"] for r in step(mk([1, 2, 3, 4, 5]), 0).collect()}
    got2 = {r["doc_id"] for r in step(mk([6, 7]), 1).collect()}
    # within-batch: 2 beats 1 on score; NULL cluster falls back to min id 3
    assert got1 == {2, 3, 5}
    # cross-batch: 6 outscores 5 but 5 was already emitted -> 6 dropped
    assert got2 == {7}

    replay = {r["doc_id"] for r in step(mk([6, 7]), 1).collect()}
    assert replay == got2

    # batch keep_best over the SAME corpus: identical election for the
    # co-arriving clusters, and exactly the pinned divergence on {5,6}
    full = mk(sorted(rows))
    pairs = D.simhash_near_dups(full, max_hamming=3).select("id_a", "id_b")
    kept = {
        r["doc_id"]
        for r in D.keep_best(
            full, D.dup_clusters(pairs), score=F.col("q")
        ).collect()
    }
    assert kept == {2, 3, 6, 7}
    assert (got1 | got2) ^ kept == {5, 6}  # the one allowed divergence


def test_streaming_video_fp_dedup_congruity_and_replay(spark, tmp_path):
    """The video member of the streaming containment family: clips
    sharing >= min_shared_frames frame hashes are dropped cross-batch
    (against the persisted frame-hash store) and within-batch (min-id
    canonical), the admitted set equals the batch twin
    (video_fingerprint_pairs → clusters → min-id canonical) under
    id-ordered arrival, and a replayed batch is idempotent. Uses the
    injected byte-sensitive fake codec — the container ships no real
    video libraries."""
    from willa_spark.functions.multimodal import (
        fake_video_decoder,
        video_fingerprint_pairs,
    )
    from willa_spark.streaming.near_dedup import video_fp_dedup_step

    import hashlib

    payload = lambda i: hashlib.sha256(str(i).encode()).digest() * 6
    rows = {i: payload(i) for i in (1, 2, 3, 4, 6)}
    rows[5] = rows[2]   # cross-batch twin of 2
    rows[7] = rows[6]   # within-batch twin of 6
    b1 = [(i, rows[i]) for i in (1, 2, 3)]
    b2 = [(i, rows[i]) for i in (4, 5, 6, 7)]
    mk = lambda b: spark.createDataFrame(b, "doc_id bigint, data binary")

    store = os.path.join(str(tmp_path), "video-store")
    step = video_fp_dedup_step(
        store, min_shared_frames=2, decoder=fake_video_decoder
    )
    got1 = {r["doc_id"] for r in step(mk(b1), 0).collect()}
    got2 = {r["doc_id"] for r in step(mk(b2), 1).collect()}
    assert got1 == {1, 2, 3}
    assert got2 == {4, 6}  # 5 cross-batch dup of 2, 7 within-batch dup of 6

    replay = {r["doc_id"] for r in step(mk(b2), 1).collect()}
    assert replay == got2
    stored = spark.read.parquet(store)
    # one (id, fp) row per distinct frame hash of each admitted clip
    assert {r["id"] for r in stored.select("id").distinct().collect()} == {1, 2, 3, 4, 6}
    assert stored.count() == stored.distinct().count()

    full = spark.createDataFrame(sorted(rows.items()), "doc_id bigint, data binary")
    pairs = video_fingerprint_pairs(
        full, min_shared_frames=2, id_col="doc_id", decoder=fake_video_decoder
    ).select("id_a", "id_b")
    kept = D.keep_canonical(full, D.dup_clusters(pairs))
    assert {r["doc_id"] for r in kept.collect()} == got1 | got2


def test_streaming_audio_segment_dedup_congruity_embedded_and_replay(spark, tmp_path):
    """The containment member of the streaming AUDIO family: a clip
    EMBEDDED in (or trimmed from) a longer admitted file shares its
    interior segment fingerprints and is dropped — the exact case the
    whole-clip envelope (audio_fp_dedup_step) misses by construction.
    Congruity with the batch twin (audio_segment_pairs → clusters →
    min-id canonical) under id-ordered arrival, plus replay
    idempotency and store shape. Injected byte-sensitive PCM fake —
    the container ships no real audio libraries."""
    from willa_spark.functions.multimodal import (
        audio_segment_pairs,
        fake_audio_decoder_pcm,
    )
    from willa_spark.streaming.near_dedup import (
        audio_fp_dedup_step,
        audio_segment_dedup_step,
    )

    import hashlib

    # 256 NON-periodic bytes (8 distinct sha256 blocks — a payload
    # with period == hop collapses every window to ONE distinct fp,
    # which distinct-counting then can't threshold at 2; inherent to
    # distinct shared-fp counting, same as winnowing on repeated text)
    base = lambda i: b"".join(
        hashlib.sha256(f"{i}-{k}".encode()).digest() for k in range(8)
    )
    pad = bytes([0x5A]) * 32  # hop-aligned junk flanks
    rows = {1: base(1), 2: base(2), 3: base(3), 6: base(6)}
    rows[4] = pad + base(2) + pad  # cross-batch EMBEDDING of clip 2
    rows[5] = base(3)[:160]        # cross-batch TRIM of clip 3
    rows[7] = rows[6]              # within-batch byte-identical twin of 6
    b1 = [(i, rows[i]) for i in (1, 2, 3)]
    b2 = [(i, rows[i]) for i in (4, 5, 6, 7)]
    mk = lambda b: spark.createDataFrame(b, "doc_id bigint, data binary")

    store = os.path.join(str(tmp_path), "aseg-store")
    step = audio_segment_dedup_step(
        store, min_shared_segments=2, decoder=fake_audio_decoder_pcm
    )
    got1 = {r["doc_id"] for r in step(mk(b1), 0).collect()}
    got2 = {r["doc_id"] for r in step(mk(b2), 1).collect()}
    assert got1 == {1, 2, 3}
    assert got2 == {6}  # 4 embeds 2, 5 trims 3, 7 twins 6 within-batch

    # the whole-clip family MISSES the embedded/trimmed copies — the
    # motivating gap, pinned so the two families stay distinct on
    # purpose (a global envelope of pad+clip+pad differs from clip's)
    wstore = os.path.join(str(tmp_path), "whole-store")
    wstep = audio_fp_dedup_step(wstore, max_hamming=3, decoder=fake_audio_decoder_pcm)
    wstep(mk(b1), 0)
    wgot2 = {r["doc_id"] for r in wstep(mk(b2), 1).collect()}
    assert {4, 5} <= wgot2  # admitted by whole-clip = the miss

    replay = {r["doc_id"] for r in step(mk(b2), 1).collect()}
    assert replay == got2
    stored = spark.read.parquet(store)
    assert {r["id"] for r in stored.select("id").distinct().collect()} == {1, 2, 3, 6}
    assert stored.count() == stored.distinct().count()

    full = spark.createDataFrame(sorted(rows.items()), "doc_id bigint, data binary")
    pairs = audio_segment_pairs(
        full, min_shared_segments=2, id_col="doc_id", decoder=fake_audio_decoder_pcm
    ).select("id_a", "id_b")
    kept = D.keep_canonical(full, D.dup_clusters(pairs))
    assert {r["doc_id"] for r in kept.collect()} == got1 | got2


def test_streaming_minhash_exact_verify_congruity_and_replay(spark, tmp_path):
    """exact_verify=True: same three-batch congruity as the estimator
    path (exact dups verify at J=1.0 either way), plus the shingles/
    half mirrors sigs/ ids exactly and a replayed micro-batch re-derives
    the same admitted set without duplicating shingle rows."""
    store = os.path.join(str(tmp_path), "store")
    step = minhash_dedup_step(
        store, threshold=0.8, num_hashes=32, num_bands=16, exact_verify=True
    )
    got = _drive_stream(spark, tmp_path, step)
    assert set(got) == EXPECT

    sig_ids = {r["id"] for r in spark.read.parquet(os.path.join(store, "sigs")).select("id").collect()}
    sh = spark.read.parquet(os.path.join(store, "shingles"))
    sh_ids = [r["id"] for r in sh.select("id").collect()]
    assert set(sh_ids) == sig_ids == EXPECT
    # distinct shingle-hash arrays, one row per admitted doc
    assert len(sh_ids) == len(set(sh_ids))

    # replay of the last batch: same admitted set, store rows unchanged
    # (count captured above — the replay overwrites ingest_batch=2, so
    # the pre-replay frame's file listing is stale by design)
    replay = {r["doc_id"] for r in step(_mkdocs(spark, BATCH3), 2).collect()}
    assert replay == {10}  # 9 still dups 2 against the prior-batch store
    assert spark.read.parquet(os.path.join(store, "shingles")).count() == len(sh_ids)


def test_minhash_exact_verify_mode_flip_fails_loud(spark, tmp_path):
    """The verify mode is part of the store contract: resuming an
    exact store with the estimator (or a default store exactly) must
    fail loud, not silently change the drop policy."""
    import pytest

    exact_store = os.path.join(str(tmp_path), "exact")
    minhash_dedup_step(exact_store, threshold=0.8, exact_verify=True)(
        _mkdocs(spark, BATCH1), 0
    ).collect()
    with pytest.raises(RuntimeError, match="estimator policy"):
        minhash_dedup_step(exact_store, threshold=0.8)(_mkdocs(spark, BATCH2), 1)

    default_store = os.path.join(str(tmp_path), "default")
    minhash_dedup_step(default_store, threshold=0.8)(
        _mkdocs(spark, BATCH1), 0
    ).collect()
    with pytest.raises(RuntimeError, match="shingles half is missing"):
        minhash_dedup_step(default_store, threshold=0.8, exact_verify=True)(
            _mkdocs(spark, BATCH2), 1
        )


def test_minhash_exact_verify_divergence_pinned(spark, tmp_path):
    """The pinned estimator FALSE POSITIVE (k=8): these two docs share
    7 of 8 minhash components (estimated J = 0.875 >= threshold 0.8)
    while their exact shingle Jaccard is 7/13 = 0.538 — the default
    signature-estimated policy drops the arriving doc; exact_verify=True
    keeps it, matching the batch pipeline (verified_near_dups finds no
    pair at the threshold even though the LSH band join surfaces the
    candidate)."""
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    variant = "alpha bravo zulu delta echo foxtrot golf hotel india juliet kilo lima"

    est_store = os.path.join(str(tmp_path), "est")
    est_step = minhash_dedup_step(est_store, threshold=0.8, num_hashes=8, num_bands=4)
    est_step(_mkdocs(spark, [(1, base)]), 0).collect()
    est_got = {
        r["doc_id"] for r in est_step(_mkdocs(spark, [(2, variant)]), 1).collect()
    }
    assert est_got == set()  # estimator false positive: dropped

    ex_store = os.path.join(str(tmp_path), "exact")
    ex_step = minhash_dedup_step(
        ex_store, threshold=0.8, num_hashes=8, num_bands=4, exact_verify=True
    )
    ex_step(_mkdocs(spark, [(1, base)]), 0).collect()
    ex_got = {
        r["doc_id"] for r in ex_step(_mkdocs(spark, [(2, variant)]), 1).collect()
    }
    assert ex_got == {2}  # exact verify keeps it...

    # ...matching the batch pipeline's exact policy on the same corpus
    docs = _mkdocs(spark, [(1, base), (2, variant)])
    cands = D.minhash_candidate_pairs(docs, num_hashes=8, num_bands=4)
    assert cands.count() == 1  # the pair IS an LSH candidate
    assert D.verified_near_dups(docs, cands, threshold=0.8).count() == 0


def test_streaming_dup_ngram_mask_first_seen_and_replay(spark, tmp_path):
    """Streaming exact-substring masking: a run's FIRST occurrence
    (count so far < min_count) is emitted verbatim; once the running
    count reaches min_count every later occurrence is cut — the
    append-sink first-seen contract, diverging from the batch twin
    exactly on the first occurrence (batch masks ALL of them). Within
    one batch the two agree; replays are idempotent."""
    from willa_spark.streaming.near_dedup import dup_ngram_mask_step

    run = "lorem ipsum dolor sit amet consectetur adipiscing elit sed"
    b1 = [(1, "alpha bravo " + run), (2, "unique words only here nothing repeats at all")]
    b2 = [(3, run + " charlie delta"), (4, "more unique words nothing shared anywhere truly")]
    store = os.path.join(str(tmp_path), "ngram-store")
    step = dup_ngram_mask_step(store, n=5)
    out1 = {r["doc_id"]: r["text"] for r in step(_mkdocs(spark, b1), 0).collect()}
    assert out1[1] == "alpha bravo " + run  # first occurrence: verbatim
    assert out1[2] == b1[1][1]
    out2 = {r["doc_id"]: r["text"] for r in step(_mkdocs(spark, b2), 1).collect()}
    assert out2[3] == "charlie delta"  # second occurrence: masked
    assert out2[4] == b2[1][1]

    # replay of batch 1 must re-derive its own emission (store probe is
    # strictly-prior, so batch 1 still sees count 1 -> verbatim)
    again = {r["doc_id"]: r["text"] for r in step(_mkdocs(spark, b2), 1).collect()}
    assert again == out2

    # the pinned divergence: the batch twin masks the FIRST occurrence too
    full = _mkdocs(spark, b1 + b2)
    bspans = D.dup_ngram_spans(full, n=5)
    bmasked = {r["doc_id"]: r["text"] for r in D.mask_dup_spans(full, bspans).collect()}
    assert bmasked[3] == "charlie delta"  # later occurrence: agrees
    assert bmasked[1] == "alpha bravo"    # first occurrence: batch cuts it, streaming kept it

    # within one batch the stream and the batch twin agree exactly
    b3 = [(5, run + " echo"), (6, run + " foxtrot")]
    step2 = dup_ngram_mask_step(os.path.join(str(tmp_path), "s2"), n=5)
    out3 = {r["doc_id"]: r["text"] for r in step2(_mkdocs(spark, b3), 0).collect()}
    full3 = _mkdocs(spark, b3)
    bm3 = {
        r["doc_id"]: r["text"]
        for r in D.mask_dup_spans(full3, D.dup_ngram_spans(full3, n=5)).collect()
    }
    assert out3 == bm3 == {5: "echo", 6: "foxtrot"}


def test_streaming_dup_ngram_mask_one_batch_equals_batch_twin_real_corpus(
    spark, tmp_path
):
    """Whole-corpus congruity on real driver data: the stream delivered
    as ONE micro-batch must equal the batch twin exactly (no prior
    store → running counts == corpus counts), doc for doc, text for
    text — including the sf corpus's organic fully-duplicated docs that
    mask to empty strings."""
    from willa_spark.sources import read_table
    from willa_spark.streaming.near_dedup import dup_ngram_mask_step

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    step = dup_ngram_mask_step(os.path.join(str(tmp_path), "store"), n=5)
    got = {r["doc_id"]: r["text"] for r in step(docs, 0).collect()}
    spans = D.dup_ngram_spans(docs, n=5)
    want = {
        r["doc_id"]: r["text"] for r in D.mask_dup_spans(docs, spans).collect()
    }
    assert len(got) == 500 and got == want
    assert any(t == "" for t in got.values())  # fully-duplicated docs exist


def test_minhash_exact_verify_store_size_contract(spark, tmp_path):
    """The exact-verify store's PRICE is the documented contract
    (corpus_pipeline's VERIFY-MODE DECISION note: ~8·|distinct
    shingles| bytes/doc vs the fixed k×8 signature): over the real
    sf0.001 corpus, the ``shingles/`` half must hold EXACTLY each
    admitted doc's distinct shingle-hash set — total stored hash count
    equal to an independent per-doc recount from the corpus (a
    duplicated, truncated, or non-distinct store would change the
    exact-Jaccard verify silently) — and the measured on-disk bytes
    document the trade honestly: at this corpus's ~50 distinct
    shingles/doc the shingle half (measured 211 KB) lands in the same
    order as the fixed k×8 + bands×12 halves (243 KB) — the price is
    document-LENGTH-bound (8·|shingles| pre-compression), growing
    linearly where the signature halves stay fixed, which is exactly
    why long-document corpora must opt in deliberately."""
    import os as _os

    from pyspark.sql import functions as F

    from willa_spark.functions.dedup import shingles
    from willa_spark.sources import read_table
    from willa_spark.streaming.near_dedup import minhash_dedup_step

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    store = _os.path.join(str(tmp_path), "store")
    step = minhash_dedup_step(store, threshold=0.8, exact_verify=True)
    admitted = step(docs, 0).select("doc_id")

    stored = (
        spark.read.parquet(_os.path.join(store, "shingles"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("__sh")).alias("n_hashes"),
        )
        .collect()[0]
    )
    want = (
        docs.join(admitted, "doc_id", "left_semi")
        .select(
            F.size(
                F.array_distinct(
                    F.transform(shingles(F.col("text"), 3), lambda s: F.xxhash64(s))
                )
            ).alias("n")
        )
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n").alias("n_hashes"))
        .collect()[0]
    )
    assert (stored["n_docs"], stored["n_hashes"]) == (
        want["n_docs"],
        want["n_hashes"],
    ), (stored, want)

    def _dir_bytes(d):
        return sum(
            _os.path.getsize(_os.path.join(r, f))
            for r, _, fs in _os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        )

    sh_b = _dir_bytes(_os.path.join(store, "shingles"))
    fixed_b = _dir_bytes(_os.path.join(store, "sigs")) + _dir_bytes(
        _os.path.join(store, "bands")
    )
    # the halves must both be real on-disk costs of the same order at
    # ~50 shingles/doc (8·50 ≈ the 448-byte fixed row): a shingle half
    # far below the hash payload would mean rows were silently dropped
    # or deduplicated across docs; far above, duplicated
    assert stored["n_hashes"] * 1 <= sh_b <= stored["n_hashes"] * 16, (
        sh_b,
        stored["n_hashes"],
    )
    assert fixed_b > 0


def test_minhash_store_geometry_guard(spark, tmp_path):
    """Resuming a signature store with different geometry must fail
    loud (r15 review): stored band hashes are computed over
    num_hashes/num_bands component groups, so a changed-geometry probe
    matches NOTHING and every duplicate silently re-admits."""
    import pytest

    store = os.path.join(str(tmp_path), "st")
    step = minhash_dedup_step(store, num_hashes=32, num_bands=16)
    step(_mkdocs(spark, BATCH1), 0)
    resumed = minhash_dedup_step(store, num_hashes=32, num_bands=8)
    with pytest.raises(RuntimeError, match="geometry"):
        resumed(_mkdocs(spark, BATCH2), 1)
    # same geometry resumes fine
    again = minhash_dedup_step(store, num_hashes=32, num_bands=16)
    got = {r["doc_id"] for r in again(_mkdocs(spark, BATCH2), 1).collect()}
    assert got == {6, 7}  # 5 dups 2 cross-batch, 8 dups 7 within
    # a FULLY-pruned store is fresh again: new geometry re-records
    from willa_spark.streaming.near_dedup import minhash_store_prune

    minhash_store_prune(store, before_batch=99)
    fresh = minhash_dedup_step(store, num_hashes=32, num_bands=8)
    got = {r["doc_id"] for r in fresh(_mkdocs(spark, BATCH1), 5).collect()}
    assert got == {1, 2, 3, 4}


def test_winnow_store_geometry_guard(spark, tmp_path):
    """The containment families guard their fingerprint parameters the
    same way (k/window define the stored fps' identity)."""
    import pytest

    from willa_spark.streaming.near_dedup import winnow_dedup_step

    store = os.path.join(str(tmp_path), "st")
    winnow_dedup_step(store, k=4, window=3)(_mkdocs(spark, BATCH1), 0)
    with pytest.raises(RuntimeError, match="geometry"):
        winnow_dedup_step(store, k=5, window=3)(_mkdocs(spark, BATCH2), 1)


def _poison_score():
    """A survivor score that raises in-plan for doc 8, which only the
    within-batch drop election reads: the step fails after its first
    scoped pin has been taken."""
    return F.when(
        F.col("doc_id") == 8, F.raise_error(F.lit("poisoned row"))
    ).otherwise(F.lit(1.0))


def _poison_text(df):
    return df.withColumn(
        "text",
        F.when(
            F.col("doc_id") == 8, F.raise_error(F.lit("poisoned row"))
        ).otherwise(F.col("text")),
    )


def _vec_docs(spark, rows):
    vecs = {1: [1.0, 0.0, 0.0, 0.0], 2: [0.0, 1.0, 0.0, 0.0],
            7: [0.0, 0.0, 1.0, 0.0], 8: [0.0, 0.0, 1.0, 0.0]}
    return spark.createDataFrame(
        [(i, vecs[i]) for i in rows], "doc_id bigint, embedding array<double>"
    )


def _release_case(name, store):
    """(step, first batch, failing batch) for one streaming step."""
    from willa_spark.streaming.ann import embedding_dedup_step
    from willa_spark.streaming.near_dedup import (
        dup_ngram_mask_step,
        winnow_dedup_step,
    )

    if name == "minhash":
        return minhash_dedup_step(store, score=_poison_score()), BATCH1, BATCH2
    if name == "simhash":
        return simhash_dedup_step(store, score=_poison_score()), BATCH1, BATCH2
    if name == "winnow":
        step = winnow_dedup_step(store, k=2, window=2, score=_poison_score())
        return step, BATCH1, BATCH2
    if name == "vector_dedup":
        step = embedding_dedup_step(
            store, n_planes=2, dim=4, id_col="doc_id", score=_poison_score()
        )
        return step, (1, 2), (7, 8)
    assert name == "dup_ngram_mask"
    step = dup_ngram_mask_step(store, n=2)
    return (lambda df, b: step(_poison_text(df), b)), BATCH1, BATCH2


@pytest.mark.parametrize(
    "name", ["minhash", "simhash", "winnow", "vector_dedup", "dup_ngram_mask"]
)
def test_step_failure_releases_cached_frames(spark, tmp_path, name):
    """A row that raises in-plan mid-step must not leak the step's
    persisted frames: a long-running stream retries failed batches in
    the same session and cache entries would accumulate unboundedly.
    The failure fires after the step's first scoped pin (for
    dup_ngram_mask, whose only scoped frame is built from the text,
    while that pin is counted)."""
    step, first, failing = _release_case(
        name, os.path.join(str(tmp_path), "st")
    )
    make = _vec_docs if name == "vector_dedup" else _mkdocs
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    step(make(spark, first), 0).collect()
    assert cache.isEmpty()
    for _ in range(3):
        with pytest.raises(Exception, match="poisoned row"):
            step(make(spark, failing), 1).collect()
    assert cache.isEmpty(), "a failed step leaked a cached frame"
