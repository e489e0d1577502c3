"""Multimodal column support: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched mapInPandas.

The Spark-side plumbing (schemas, batch iteration, partition-size
control) is real and tested; the codec step itself is STUBBED because
the container ships no image/audio libraries — ``decode_image`` raises
NotImplementedError unless a deterministic fake decoder is injected
(tests use the fake). Swap in PIL/torchaudio/ffmpeg via the
``decoder=`` parameter in production.

Design notes for 100 TB of media:
- media rows are large → cap ``spark.sql.files.maxPartitionBytes`` and
  use ``maxRecordsPerBatch`` so an Arrow batch of decoded frames fits
  executor memory;
- decode → feature-extract runs in one mapInPandas pass (no shuffle);
  only the small feature vectors ever shuffle;
- metadata (width/height/duration/codec) lives in a sibling struct
  column so filters on it prune BEFORE decode (predicate pushdown
  works on parquet statistics of the struct fields).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ]
)

AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("codec", T.StringType()),
    ]
)


def fake_image_decoder(data: bytes) -> dict:
    """Deterministic fake decode for tests: 'decodes' the byte length
    and a checksum-derived 4x4 'pixel' grid."""
    n = len(data or b"")
    checksum = sum(data or b"") % 256
    return {
        "width": 4,
        "height": 4,
        "pixels": [float((checksum + i) % 256) for i in range(16)],
        "n_bytes": n,
    }


def decode_image(data: bytes):  # pragma: no cover - intentional stub
    """Real decoder stub — the container has no image libraries.
    Inject a decoder (e.g. PIL-based) via ``decode_images(decoder=...)``."""
    raise NotImplementedError(
        "no image codec in this environment; pass decoder= to decode_images"
    )


def decode_images(
    df: DataFrame,
    binary_col: str = "data",
    id_col: str = "id",
    decoder: Callable[[bytes], dict] | None = None,
    batch_size_hint: int = 64,
) -> DataFrame:
    """Decode a binary image column into (id, width, height, n_bytes,
    features array) via mapInPandas. ``decoder`` defaults to the real
    (stubbed) codec; tests inject ``fake_image_decoder``."""
    import pandas as pd

    dec = decoder or decode_image
    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("features", T.ArrayType(T.DoubleType())),
        ]
    )

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf[id_col], pdf[binary_col]):
                d = dec(bytes(blob) if blob is not None else b"")
                rows.append(
                    (rid, d["width"], d["height"], d.get("n_bytes", len(blob or b"")), d["pixels"])
                )
            yield pd.DataFrame(rows, columns=[id_col, "width", "height", "n_bytes", "features"])

    return df.select(id_col, binary_col).mapInPandas(decode_batches, schema=out_schema)


def fake_image_decoder_8x8(data: bytes) -> dict:
    """Deterministic 8x8 fake decode for perceptual-hash tests: 64
    'pixels' strided over the payload bytes — BYTE-SENSITIVE (unlike
    the 4x4 checksum fake, which collapses payloads to a mod-256
    class), so distinct payloads hash apart and identical payloads
    hash identically. A real decoder would put an 8x8 DCT
    low-frequency grid here."""
    n = len(data or b"")
    if n == 0:
        px = [0.0] * 64
    else:
        px = [float(data[(i * 37 + 11) % n]) for i in range(64)]
    return {"width": 8, "height": 8, "pixels": px, "n_bytes": n}


def with_phash(
    df: DataFrame,
    features_col: str = "features",
    out_col: str = "phash",
    n_bits: int = 64,
) -> DataFrame:
    """64-bit perceptual hash over a decoded feature array: bit i = 1
    iff feature_i exceeds the array mean — the aHash/pHash family's
    threshold-against-mean step over whatever coefficient grid the
    decoder produced (a real pHash feeds 8x8 DCT low frequencies; the
    engine is agnostic to the grid's meaning). Arrays shorter than
    ``n_bits`` populate only their leading bits; arrays LONGER than
    ``n_bits`` are truncated to their first ``n_bits`` elements for
    BOTH the mean and the bits (a decoder emitting a 256-coefficient
    grid hashes its leading 64 against their own mean — consistent, so
    identical payloads still hash identically); empty/NULL arrays hash
    to 0. Pure Column expressions (aggregate/element_at over a
    64-element array) — JVM-side, no Python beyond the decode itself.
    The mean sub-expression is re-evaluated per bit (64 x 64 adds per
    row — negligible next to the decode); a cost-sensitive caller can
    pre-project the mean.

    STORE CONTRACT: this hash definition (slice-first, mean over the
    leading ``n_bits`` only — changed in r7 from whole-array mean) is
    part of every persisted phash-store's identity: under a decoder
    emitting MORE than ``n_bits`` coefficients, hashes computed by the
    pre-r7 definition are not hamming-comparable with these, so
    changing this function (or swapping in such a decoder across the
    change) means REBUILDING streaming phash/audio-fp stores — the
    same generation rule as ``audio_frame_energies`` and IVF
    retraining (streaming/ann.py). No in-repo decoder exceeds
    ``n_bits`` elements, so in-repo stores are unaffected."""
    return df.withColumn(out_col, phash_bits(F.col(features_col), n_bits))


def _bound(expr, fn):
    """``fn`` over ``expr`` with the expression LAMBDA-BOUND so it
    evaluates ONCE: higher-order functions are interpreted — no CSE
    into lambda bodies — so an expression referenced k times inside a
    lambda body re-evaluates k times (the ``dedup.shingles`` lesson).
    For nested kernels the re-evaluation compounds MULTIPLICATIVELY:
    phash_bits∘frame_energies∘slice unbound re-ran the whole energy
    envelope per output bit and the segment slice per envelope frame —
    minutes per pass at sf0.1; bound, the same arithmetic is one
    evaluation per level. Values are identical; only the expression
    tree's evaluation strategy changes (store contracts unaffected)."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def phash_bits(features, n_bits: int = 64):
    """The threshold-hash KERNEL behind ``with_phash``, over an
    arbitrary array-of-double EXPRESSION — factored out so it can run
    per-element inside a lambda context (``F.transform`` over a video's
    frame arrays hashes each frame with this exact expression, so a
    video frame and a standalone image of identical features hash
    identically). Same semantics as ``with_phash``: leading ``n_bits``
    elements thresholded against their own mean; empty/NULL → 0.
    ``features`` and the mean are lambda-bound (``_bound``) so each
    evaluates once per hash regardless of how expensive the caller's
    feature expression is — same values, the store contract
    (``with_phash``) covers arithmetic, not evaluation order."""
    # shiftleft, not 1 << b literals: bit 63 is the long's sign bit and
    # 2^63 overflows a py4j long
    pow2 = F.array(
        *[F.shiftleft(F.lit(1).cast("long"), b) for b in range(n_bits)]
    )

    def hash_of(f):
        def with_mean(mean):
            idx = F.sequence(
                F.lit(0), F.least(F.lit(n_bits - 1), F.size(f) - 1)
            )
            bits = F.aggregate(
                idx,
                F.lit(0).cast("long"),
                lambda acc, i: acc
                + F.when(
                    F.element_at(f, i + 1) > mean, F.element_at(pow2, i + 1)
                ).otherwise(F.lit(0).cast("long")),
            )
            return F.when(
                F.coalesce(F.size(f), F.lit(0)) <= 0, F.lit(0).cast("long")
            ).otherwise(bits)

        return _bound(
            F.aggregate(f, F.lit(0.0), lambda a, x: a + x)
            / F.greatest(F.size(f), F.lit(1)),
            with_mean,
        )

    # slice FIRST so the threshold mean is computed over exactly the
    # elements that get hashed — thresholding the leading 64 against a
    # mean that includes unhashed tail elements would skew every bit
    return _bound(F.slice(features, 1, n_bits), hash_of)


# ------------------------------------------------------------- r16:
# numpy TWINS of the Column-expression hash kernels, run INSIDE the
# decode mapInPandas pass (guide §4.2: heavy per-row math belongs in
# vectorized native code next to the decode, not in interpreted
# Catalyst higher-order functions — the HOF trees here are never
# codegen'd, and merely CONSTRUCTING them cost seconds of driver time
# per query). Bit-exactness with the Column kernels is the contract:
# every float fold below is LEFT-TO-RIGHT (np.add.accumulate — a
# sequential prefix scan, never pairwise like np.sum), matching
# F.aggregate's fold order, so hashes are int64-identical — pinned by
# tests/test_functions.py::test_np_kernels_bit_identical_to_columns
# and the pair-builder brute-force differentials. The only tolerated
# divergence is the SIGN OF ZERO of intermediate sums (F.aggregate
# seeds with +0.0, accumulate starts at the first element), which no
# comparison — the only consumer — can observe. The Column kernels
# (``phash_bits``/``frame_energies``/...) remain the public
# expression-level API and the differential reference; the STORE
# CONTRACTS above cover arithmetic, which is unchanged.


def _np_phash_bits(feat, n_bits: int = 64) -> int:
    """Bit-exact numpy twin of ``phash_bits`` for ONE feature array:
    threshold the leading ``n_bits`` elements against their own
    left-to-right mean; empty/NULL → 0. NaN poisons the mean so every
    comparison is false (hash 0) — same result as the Column kernel,
    where a NaN mean is never less than any element (Spark orders NaN
    greatest) and a NULL element nulls the mean (bits fall to the
    otherwise-0 branch)."""
    import numpy as np

    if feat is None:
        return 0
    a = np.asarray(feat[:n_bits], dtype=np.float64)
    if a.size == 0:
        return 0
    # overflow to ±inf mid-fold is legal IEEE behavior the JVM fold
    # shares — silence the warning, don't change the value
    with np.errstate(over="ignore", invalid="ignore"):
        mean = np.add.accumulate(a)[-1] / a.size
        bits = a > mean
    if not bits.any():
        return 0
    idx = np.nonzero(bits)[0]
    h = 0
    for i in idx.tolist():
        h |= 1 << i
    # bit 63 is the long's sign bit (the shiftleft note in phash_bits)
    return h - (1 << 64) if h >= (1 << 63) else h


def _np_frame_energies(samples, n_frames: int = 64):
    """Bit-exact numpy twin of ``frame_energies`` for ONE sample
    array: ceiling-division framing, per-ACTUAL-slice-size
    normalization, left-to-right |x| folds (zero-padding the tail
    frames is exact: every energy fold is over non-negative values,
    so +0.0 padding can change neither value nor zero sign)."""
    import numpy as np

    a = np.abs(np.asarray(samples if samples is not None else [], dtype=np.float64))
    n = int(a.size)
    frame_len = max(-(-n // n_frames), 1)
    pad = frame_len * n_frames - n
    if pad:
        a = np.concatenate([a, np.zeros(pad, dtype=np.float64)])
    sums = np.add.accumulate(a.reshape(n_frames, frame_len), axis=1)[:, -1]
    sizes = np.clip(n - np.arange(n_frames, dtype=np.int64) * frame_len, 0, frame_len)
    return sums / np.maximum(sizes, 1)


def _np_segment_fps(samples, window: int = 64, hop: int = 32, n_frames: int = 64):
    """Numpy twin of ``audio_segment_fp_frame``'s per-clip tiling:
    the DISTINCT sliding-window fingerprints in first-occurrence
    order (``array_distinct`` order — row order is irrelevant to every
    downstream join/agg, but keep it anyway)."""
    import numpy as np

    s = np.asarray(samples if samples is not None else [], dtype=np.float64)
    n = int(s.size)
    n_windows = max(-(-(n - window) // hop), 0) + 1
    fps: list[int] = []
    seen: set[int] = set()
    for w in range(n_windows):
        seg = s[w * hop : w * hop + window]
        fp = _np_phash_bits(_np_frame_energies(seg, n_frames))
        if fp not in seen:
            seen.add(fp)
            fps.append(fp)
    return fps


def _fused_sig_frame(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    out_col: str,
    row_fn,
) -> DataFrame:
    """Shared plumbing for the fused decode→signature builders: ONE
    mapInPandas pass emitting (id, <out_col> long), where ``row_fn``
    maps one payload to a LIST of int64 signatures (1 for whole-clip
    hashes, n for segment/frame fingerprint frames). Only (id, data)
    cross the Python boundary; pixel/PCM tensors never exist as Spark
    rows at all anymore — they live and die inside the worker."""
    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType),
            T.StructField(out_col, T.LongType()),
        ]
    )

    def batches(it):
        import numpy as np

        for pdf in it:
            ids: list = []
            sigs: list[int] = []
            for rid, blob in zip(pdf[id_col], pdf[binary_col]):
                for h in row_fn(bytes(blob) if blob is not None else b""):
                    ids.append(rid)
                    sigs.append(h)
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids) if ids else pd.Series([], dtype="int64"),
                    out_col: np.asarray(sigs, dtype=np.int64),
                }
            )

    return df.select(id_col, binary_col).mapInPandas(batches, schema=out_schema)


def decode_image_phash_frame(
    df: DataFrame,
    binary_col: str = "data",
    id_col: str = "id",
    decoder: Callable[[bytes], dict] | None = None,
    n_bits: int = 64,
) -> DataFrame:
    """Fused decode → 64-bit pHash in ONE Arrow pass: (id, simhash).
    Same hash as ``decode_images`` → ``with_phash`` (bit-exact — see
    the numpy-kernel block above), without materializing the feature
    arrays as Spark rows or paying the interpreted threshold-hash
    expression per row."""
    dec = decoder or decode_image
    return _fused_sig_frame(
        df, binary_col, id_col, "simhash",
        lambda b: [_np_phash_bits(dec(b)["pixels"], n_bits)],
    )


def decode_audio_fp_frame(
    df: DataFrame,
    binary_col: str = "data",
    id_col: str = "id",
    decoder: Callable[[bytes], dict] | None = None,
    n_frames: int = 64,
    n_bits: int = 64,
) -> DataFrame:
    """Fused decode → energy envelope → threshold fingerprint in ONE
    Arrow pass: (id, simhash). Same fingerprint as ``decode_audio`` →
    ``audio_frame_energies`` → ``with_phash`` (bit-exact)."""
    dec = decoder or decode_audio_stub
    return _fused_sig_frame(
        df, binary_col, id_col, "simhash",
        lambda b: [
            _np_phash_bits(_np_frame_energies(dec(b)["samples"], n_frames), n_bits)
        ],
    )


def decode_audio_segment_fp_frame(
    df: DataFrame,
    window: int = 64,
    hop: int = 32,
    n_frames: int = 64,
    binary_col: str = "data",
    id_col: str = "id",
    decoder: Callable[[bytes], dict] | None = None,
) -> DataFrame:
    """Fused decode → sliding-window segment fingerprints in ONE
    Arrow pass: one (id, fp) row per distinct segment fp — the same
    rows as ``decode_audio`` → ``audio_segment_fp_frame``
    (bit-exact tiling, see ``_np_segment_fps``)."""
    dec = decoder or decode_audio_stub
    return _fused_sig_frame(
        df, binary_col, id_col, "fp",
        lambda b: _np_segment_fps(dec(b)["samples"], window, hop, n_frames),
    )


def decode_video_fp_frame(
    df: DataFrame,
    every_n: int = 1,
    binary_col: str = "data",
    id_col: str = "id",
    decoder: Callable[[bytes], dict] | None = None,
) -> DataFrame:
    """Fused decode → sampled per-frame perceptual hashes in ONE
    Arrow pass: one (id, fp) row per distinct sampled-frame hash —
    the same rows as ``decode_video`` → ``video_frame_hash_frame``."""
    dec = decoder or decode_video_stub

    def row_fps(b: bytes) -> list[int]:
        frames = dec(b)["frames"]
        fps: list[int] = []
        seen: set[int] = set()
        for fr in frames[::every_n]:
            fp = _np_phash_bits(fr)
            if fp not in seen:
                seen.add(fp)
                fps.append(fp)
        return fps

    return _fused_sig_frame(df, binary_col, id_col, "fp", row_fps)


def image_phash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    binary_col: str = "data",
    id_col: str = "id",
    decoder: Callable[[bytes], dict] | None = None,
    num_blocks: int | None = None,
) -> DataFrame:
    """Perceptual-hash near-duplicate IMAGE pairs — the binary-column
    member of the hamming dedup family: decode (Arrow-batched
    mapInPandas, injected codec) → 64-bit pHash (``with_phash``,
    Column expressions) → the SAME pigeonhole block self-join + exact
    ``bit_count`` verify as ``dedup.simhash_near_dups``
    (``hamming_block_pairs`` — full recall at the radius guaranteed by
    ``num_blocks = max_hamming + 1``, never all-pairs). Returns
    (id_a, id_b, hamming).

    At 100 TB the decode+hash is one map-only pass over the media
    scan; only 16-byte (id, hash) rows reach the shuffle — pixel
    tensors never leave the scan stage. The streaming twin is
    ``streaming.near_dedup.phash_dedup_step`` (same signature builder
    against a persisted store)."""
    from .dedup import _spread, check_pigeonhole, hamming_block_pairs

    num_blocks = check_pigeonhole(max_hamming, num_blocks)
    # _spread before the Python decode stage — the dominant per-row
    # cost — so a poorly-partitioned input (single coalesced file,
    # small createDataFrame) doesn't serialize it on one task; same
    # discipline as simhash_near_dups before its Pandas UDF
    sig = decode_image_phash_frame(
        _spread(df.select(id_col, binary_col), id_col),
        binary_col=binary_col,
        id_col=id_col,
        decoder=decoder,
    )
    return hamming_block_pairs(sig, max_hamming, num_blocks)


def fake_audio_decoder(data: bytes) -> dict:
    """Deterministic fake audio decode for tests: byte length → sample
    count, checksum → a tiny PCM-like wave."""
    n = len(data or b"")
    checksum = sum(data or b"") % 128
    return {
        "sample_rate": 16_000,
        "n_channels": 1,
        "duration_ms": n,  # 1 'ms' per byte, deterministic
        "samples": [float(((checksum + i * 7) % 256) - 128) for i in range(8)],
    }


def decode_audio_stub(data: bytes):  # pragma: no cover - intentional stub
    """Real decoder stub — no audio libraries in this environment.
    Inject a decoder (e.g. soundfile/torchaudio) via
    ``decode_audio(decoder=...)``."""
    raise NotImplementedError(
        "no audio codec in this environment; pass decoder= to decode_audio"
    )


def decode_audio(
    df: DataFrame,
    binary_col: str = "data",
    id_col: str = "id",
    decoder: Callable[[bytes], dict] | None = None,
) -> DataFrame:
    """Decode a binary audio column into (id, sample_rate, n_channels,
    duration_ms, samples array) via mapInPandas — the audio counterpart
    of ``decode_images``, same single-pass no-shuffle shape."""
    import pandas as pd

    dec = decoder or decode_audio_stub
    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("n_channels", T.IntegerType()),
            T.StructField("duration_ms", T.LongType()),
            T.StructField("samples", T.ArrayType(T.DoubleType())),
        ]
    )

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf[id_col], pdf[binary_col]):
                d = dec(bytes(blob) if blob is not None else b"")
                rows.append(
                    (rid, d["sample_rate"], d["n_channels"], d["duration_ms"], d["samples"])
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "sample_rate", "n_channels", "duration_ms", "samples"],
            )

    return df.select(id_col, binary_col).mapInPandas(decode_batches, schema=out_schema)


def fake_audio_decoder_pcm(data: bytes) -> dict:
    """Deterministic BYTE-SENSITIVE fake audio decode for the
    fingerprint family: the payload bytes themselves become centered
    PCM samples, so byte-identical payloads decode to identical
    waveforms and distinct payloads decode apart (unlike
    ``fake_audio_decoder``, whose checksum collapses payloads to a
    mod-128 class — fine for plumbing tests, useless for dedup). A
    real decoder would put the channel-merged PCM frame here."""
    n = len(data or b"")
    return {
        "sample_rate": 16_000,
        "n_channels": 1,
        "duration_ms": n,
        "samples": [float(b) - 128.0 for b in (data or b"")],
    }


def audio_frame_energies(
    df: DataFrame,
    samples_col: str = "samples",
    out_col: str = "features",
    n_frames: int = 64,
) -> DataFrame:
    """Energy-envelope features for audio fingerprinting: the sample
    array is cut into ``n_frames`` equal frames and each frame reduces
    to its mean absolute amplitude — the coarse acoustic envelope a
    landmark/chromaprint-style fingerprint thresholds (bit i = frame i
    louder than the clip average, via ``with_phash`` downstream). Pure
    Column expressions (slice/aggregate over the decoded array) —
    JVM-side, nothing touches Python after the decode. Frames past the
    end of a short clip (fewer samples than frames) contribute 0.0
    energy; empty/NULL sample arrays produce an all-zero envelope,
    which ``with_phash`` hashes to 0.

    STORE CONTRACT: this envelope definition is part of every
    persisted audio-fingerprint store's identity — fingerprints
    computed under a different framing (e.g. the pre-r7 floor
    division) are not hamming-comparable, so changing this function
    means REBUILDING streaming fp stores, the same generation rule as
    IVF retraining (streaming/ann.py)."""
    return df.withColumn(out_col, frame_energies(F.col(samples_col), n_frames))


def frame_energies(samples, n_frames: int = 64):
    """The energy-envelope KERNEL behind ``audio_frame_energies``, over
    an arbitrary array-of-double EXPRESSION — factored out (the
    phash_bits pattern) so it can run per-segment inside a lambda
    context: ``audio_segment_fp_frame`` maps it over every sliding
    window of a clip, so a standalone clip and the identical byte
    range embedded in a longer file produce the SAME envelope.
    Arithmetic is IDENTICAL to the pre-split ``audio_frame_energies``
    (ceiling-division framing, per-actual-slice-size normalization) —
    the store contract above covers this kernel."""
    n = F.coalesce(F.size(samples), F.lit(0))
    # CEILING division: frame_len * n_frames >= n, so the frames cover
    # the WHOLE clip (floor left up to frame_len*n_frames - n tail
    # samples influencing no frame — clips sharing a prefix but
    # differing in the tail would fingerprint identically); the last
    # frames may be partial or empty, so each frame normalizes by its
    # ACTUAL slice size, keeping the energy a mean amplitude
    frame_len = F.greatest(F.ceil(n / F.lit(n_frames)).cast("int"), F.lit(1))
    idx = F.sequence(F.lit(0), F.lit(n_frames - 1))

    def frame_energy(i):
        # lambda-bind the frame slice so it evaluates once (not per
        # reference — aggregate + size), see _bound
        return _bound(
            F.slice(samples, i * frame_len + 1, frame_len),
            lambda sl: F.aggregate(sl, F.lit(0.0), lambda a, x: a + F.abs(x))
            / F.greatest(F.size(sl), F.lit(1)),
        )

    return F.transform(idx, frame_energy)


def audio_fingerprint_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    binary_col: str = "data",
    id_col: str = "id",
    decoder: Callable[[bytes], dict] | None = None,
    num_blocks: int | None = None,
) -> DataFrame:
    """Acoustic-fingerprint near-duplicate AUDIO pairs — the audio
    member of the hamming dedup family, completing the text (simhash)
    / image (pHash) / audio trio on the SAME bucketed machinery:
    decode (Arrow-batched mapInPandas, injected codec) → 64-frame
    energy envelope (``audio_frame_energies``, Column expressions) →
    64-bit threshold fingerprint (``with_phash``) → pigeonhole block
    self-join + exact ``bit_count`` verify (``hamming_block_pairs`` —
    full recall at the radius guaranteed by ``num_blocks =
    max_hamming + 1``, never all-pairs). Returns (id_a, id_b,
    hamming).

    At 100 TB the decode+envelope is one map-only pass over the media
    scan; only 16-byte (id, fingerprint) rows reach the shuffle — PCM
    never leaves the scan stage. Streaming twin:
    ``streaming.near_dedup.audio_fp_dedup_step`` (same signature
    builder against a persisted store)."""
    from .dedup import _spread, check_pigeonhole, hamming_block_pairs

    num_blocks = check_pigeonhole(max_hamming, num_blocks)
    sig = decode_audio_fp_frame(
        _spread(df.select(id_col, binary_col), id_col),
        binary_col=binary_col,
        id_col=id_col,
        decoder=decoder,
    )
    return hamming_block_pairs(sig, max_hamming, num_blocks)


def audio_segment_fp_frame(
    decoded: DataFrame,
    window: int = 64,
    hop: int = 32,
    n_frames: int = 64,
    id_col: str = "id",
    samples_col: str = "samples",
) -> DataFrame:
    """One (id, fp) row per DISTINCT sliding-WINDOW fingerprint of each
    clip — the CONTAINMENT half of the audio dedup family. The
    whole-clip envelope (``audio_frame_energies`` →
    ``audio_fingerprint_pairs``) reduces a clip to ONE global
    fingerprint, so a clip embedded in (or trimmed from) a longer file
    fingerprints differently and is missed — exactly the failure the
    video family solves with per-frame hashes. Here every
    ``window``-sample segment at ``hop``-sample stride gets its own
    envelope (``frame_energies`` kernel — byte-identical arithmetic to
    the whole-clip path) and 64-bit threshold hash (``phash_bits``),
    so an embedded copy whose byte offset is a multiple of ``hop``
    shares every fully-interior segment fingerprint with the original
    — the winnowing containment argument at audio-segment granularity.

    Segments tile the WHOLE clip: ceil((n - window)/hop) + 1 windows,
    the last possibly partial (covering the tail — a floor count would
    leave tail samples fingerprinting nothing, so tail-divergent clips
    would alias). A clip shorter than ``window`` yields its single
    partial segment; empty/NULL samples hash to the single fp 0.

    Pure Column expressions (nested higher-order functions: transform
    over windows → envelope transform → threshold aggregate) —
    JVM-side, map-only, no shuffle; PCM never leaves the scan stage,
    only (id, 8-byte fp) rows do.

    STORE CONTRACT: (window, hop, n_frames) and this tiling are part
    of every persisted segment-fp store's identity — same rebuild rule
    as ``audio_frame_energies``."""
    s = F.col(samples_col)
    n = F.coalesce(F.size(s), F.lit(0))
    n_windows = (
        F.greatest(
            F.ceil((n - F.lit(window)) / F.lit(hop)).cast("int"), F.lit(0)
        )
        + F.lit(1)
    )
    starts = F.sequence(F.lit(0), (n_windows - 1) * hop, F.lit(hop))
    fps = F.array_distinct(
        F.transform(
            starts,
            # both levels lambda-bound (see _bound): the segment slice
            # evaluates once per segment (not per envelope frame) and
            # the envelope once per segment (not per hash bit) —
            # unbound, this nest re-ran the slice ~200× and the
            # envelope ~65× per segment (minutes per pass at sf0.1)
            lambda off: _bound(
                F.slice(s, off + 1, window),
                lambda seg: phash_bits(frame_energies(seg, n_frames)),
            ),
        )
    )
    return decoded.select(
        F.col(id_col).alias("id"), F.explode(fps).alias("fp")
    )


def audio_segment_pairs(
    df: DataFrame,
    min_shared_segments: int = 2,
    window: int = 64,
    hop: int = 32,
    seg_df_cap: int | None = 10,
    binary_col: str = "data",
    id_col: str = "id",
    decoder: Callable[[bytes], dict] | None = None,
) -> DataFrame:
    """Shared-segment near-duplicate AUDIO pairs — containment dedup
    for audio (podcast/audiobook corpora where one recording is
    embedded in or trimmed from another): decode (Arrow-batched
    mapInPandas, injected codec) → sliding-window segment fingerprints
    (``audio_segment_fp_frame``) → the SAME fingerprint equi-join
    kernel as winnowing and video (``winnow_pair_counts`` — volume ∝
    collisions, never all-pairs) → pairs sharing >=
    ``min_shared_segments`` distinct segment fingerprints. Returns
    (id_a, id_b, n_shared_segments).

    ``seg_df_cap`` drops segment fps appearing in more than that many
    clips before the self-join (MOSS's rule, same as
    ``winnow_overlap_pairs`` / ``video_fingerprint_pairs``): a
    ubiquitous segment — silence, a jingle, test tone — fans out f²
    pairs and is boilerplate, not evidence of duplication. At 100 TB
    the decode+segment-hash is one map-only pass; only (id, 8-byte fp)
    rows reach the shuffle. Streaming twin:
    ``streaming.near_dedup.audio_segment_dedup_step``."""
    from .dedup import _spread, capped_fingerprints, winnow_pair_counts

    fp = decode_audio_segment_fp_frame(
        _spread(df.select(id_col, binary_col), id_col),
        window=window,
        hop=hop,
        binary_col=binary_col,
        id_col=id_col,
        decoder=decoder,
    )
    return (
        winnow_pair_counts(capped_fingerprints(fp, seg_df_cap))
        .filter(F.col("n_shared") >= min_shared_segments)
        .withColumnRenamed("n_shared", "n_shared_segments")
    )


def fake_video_decoder(data: bytes) -> dict:
    """Deterministic BYTE-SENSITIVE fake video decode: one 64-'pixel'
    frame per 40-byte span of the payload (so a 200-byte payload
    yields 5 frames), each frame strided over the bytes with a
    per-frame offset — byte-identical payloads decode to identical
    frame sequences, distinct payloads decode apart. An empty payload
    yields one all-zero frame. A real decoder would put per-frame
    downsampled luma grids here."""
    n = len(data or b"")
    n_frames = max(1, (n + 39) // 40)
    if n == 0:
        frames = [[0.0] * 64]
    else:
        frames = [
            [float(data[(i * 37 + j * 11 + 5) % n]) for i in range(64)]
            for j in range(n_frames)
        ]
    return {"n_frames": len(frames), "frames": frames}


def decode_video_stub(data: bytes):  # pragma: no cover - intentional stub
    """Real decoder stub — no video libraries in this environment.
    Inject a decoder (e.g. pyav/decord frame extraction) via
    ``decode_video(decoder=...)``."""
    raise NotImplementedError(
        "no video codec in this environment; pass decoder= to decode_video"
    )


def decode_video(
    df: DataFrame,
    binary_col: str = "data",
    id_col: str = "id",
    decoder: Callable[[bytes], dict] | None = None,
) -> DataFrame:
    """Decode a binary video column into (id, n_frames, frames
    array<array<double>>) via mapInPandas — the video counterpart of
    ``decode_images``/``decode_audio``, same single-pass no-shuffle
    shape. Frame tensors stay inside the scan stage; downstream
    fingerprinting reduces them to 8-byte hashes before any
    shuffle."""
    import pandas as pd

    dec = decoder or decode_video_stub
    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("frames", T.ArrayType(T.ArrayType(T.DoubleType()))),
        ]
    )

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf[id_col], pdf[binary_col]):
                d = dec(bytes(blob) if blob is not None else b"")
                rows.append((rid, d["n_frames"], d["frames"]))
            yield pd.DataFrame(rows, columns=[id_col, "n_frames", "frames"])

    return df.select(id_col, binary_col).mapInPandas(decode_batches, schema=out_schema)


def video_frame_hash_frame(
    decoded: DataFrame,
    id_col: str = "id",
    frames_col: str = "frames",
    every_n: int = 1,
) -> DataFrame:
    """One (id, fp) row per DISTINCT sampled-frame hash of each video —
    the joinable half of the video fingerprint family, structurally
    the ``winnow_fingerprint_frame`` shape with frame perceptual
    hashes as the fingerprints. Frame sampling (every ``every_n``-th
    frame) and the per-frame 64-bit threshold hash (``phash_bits``
    inside ``F.transform``) are pure Column expressions over the
    decoded arrays — map-side explode, no shuffle, pixel tensors never
    leave the scan stage."""
    sampled = F.filter(F.col(frames_col), lambda _x, i: i % every_n == 0)
    hashes = F.array_distinct(F.transform(sampled, lambda fr: phash_bits(fr)))
    return decoded.select(
        F.col(id_col).alias("id"), F.explode(hashes).alias("fp")
    )


def video_fingerprint_pairs(
    df: DataFrame,
    min_shared_frames: int = 2,
    frame_df_cap: int | None = 10,
    every_n: int = 1,
    binary_col: str = "data",
    id_col: str = "id",
    decoder: Callable[[bytes], dict] | None = None,
) -> DataFrame:
    """Shared-frame near-duplicate VIDEO pairs — the video member of
    the multimodal dedup family, completing the image/audio/video
    trio: decode (Arrow-batched mapInPandas, injected codec) →
    sampled per-frame perceptual hashes → the SAME fingerprint
    equi-join kernel as winnowing (``winnow_pair_counts`` — volume ∝
    collisions, never all-pairs) → pairs sharing >=
    ``min_shared_frames`` distinct frame hashes. This is the
    shot-fingerprint containment design: a clip embedded inside a
    longer video shares ALL its frames, which whole-file hashing
    misses — exactly winnowing's containment argument at frame
    granularity. Returns (id_a, id_b, n_shared_frames).

    ``frame_df_cap`` drops frame hashes appearing in more than that
    many videos before the self-join (MOSS's rule, same as
    ``winnow_overlap_pairs``): a ubiquitous frame — black frame,
    station ident, intro card — fans out f² pairs and is boilerplate,
    not evidence of duplication. At 100 TB the decode+hash is one
    map-only pass; only (id, 8-byte hash) rows reach the shuffle.
    Streaming twin: ``streaming.near_dedup.video_fp_dedup_step``."""
    from .dedup import _spread, capped_fingerprints, winnow_pair_counts

    fp = decode_video_fp_frame(
        _spread(df.select(id_col, binary_col), id_col),
        every_n=every_n,
        binary_col=binary_col,
        id_col=id_col,
        decoder=decoder,
    )
    return (
        winnow_pair_counts(capped_fingerprints(fp, frame_df_cap))
        .filter(F.col("n_shared") >= min_shared_frames)
        .withColumnRenamed("n_shared", "n_shared_frames")
    )


def resize_features(df: DataFrame, features_col: str = "features", target: int = 4) -> DataFrame:
    """'Resize' by striding the feature grid — pure Column expression
    (slice with step) standing in for real interpolation."""
    n = F.size(F.col(features_col))
    idx = F.sequence(F.lit(0), F.lit(target - 1))
    stride = F.greatest((n / target).cast("int"), F.lit(1))
    return df.withColumn(
        "resized",
        F.transform(idx, lambda i: F.element_at(F.col(features_col), (i * stride + 1).cast("int"))),
    )


def sample_frames(
    df: DataFrame, frames_col: str = "frames", every_n: int = 10
) -> DataFrame:
    """Frame sampling for video-like array columns: keep every n-th
    element — Column-expression filter over posexplode indices."""
    return df.withColumn(
        "sampled_frames",
        F.filter(F.col(frames_col), lambda x, i: i % every_n == 0),
    )
