"""Streaming approximate-nearest-neighbor — the foreachBatch recipe
for the LSH family, mirroring ``willa_spark.streaming.near_dedup``
against a persisted bucket index.

Two streaming roles, matching how ANN is deployed over a growing
corpus (reference analogue: the dedupe workflow splice,
workflow.clj:6-24, is likewise a streaming construction over state
the stream itself maintains):

- **Index maintenance** (``lsh_index_step``): corpus embeddings arrive
  as a stream; each micro-batch's ``lsh_index_frame`` rows
  (id, vec, bucket — the exact frame the batch ``lsh_topk`` joins
  against, built by the SAME seeded builders) land in an
  ``ingest_batch=<id>`` partition directory through the store
  lifecycle (``store_step.py``). A replayed micro-batch
  overwrites exactly its own partition, so retries are idempotent and
  never duplicate index rows.
- **Query serving** (``lsh_probe_step``): query embeddings arrive as a
  stream; each micro-batch is probed against the CURRENT store with
  ``lsh_probe_topk`` — bucket equi-join (broadcast query side), exact
  cosine rescore, per-query rank. Probe parameters must match the
  index build; both steps take them from one ``LshAnnConfig``.

At 100 TB the store is a bucket-partitioned parquet table: the probe
reads only the joined bucket keys' row groups (the bucket column is a
single long — min/max row-group pruning applies), the index write is
map-only per batch, and neither step touches session conf or driver
memory beyond the broadcast query batch.

Why foreachBatch and not a stateful operator: the index is the
embedding table of EVERY admitted vector — joinable state far beyond a
per-key store, same argument as streaming near-dedup (near_dedup.py
module docstring).

``ivf_index_step``/``ivf_probe_step`` are the IVF twins — cell id in
place of bucket key, centroids FROZEN (train on a bootstrap sample;
cells stay comparable across batches; retrain = rebuild the store).
``embedding_dedup_step`` is this same store shape probed with each
batch's OWN vectors at a cosine threshold instead of top-k — the
vector member of the streaming dedup family next to
``near_dedup.minhash_dedup_step``/``simhash_dedup_step``.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.similarity import (
    cosine,
    hyperplanes,
    ivf_assign,
    ivf_index_frame,
    ivf_probe_topk,
    lsh_index_frame,
    lsh_probe_topk,
    lsh_signature,
    _as_double,
    _centroid_sims,
)
from .store import store_append, store_read
from .store_step import Half, dedup_step, store_step, write_json


@dataclass(frozen=True)
class LshAnnConfig:
    """One config object shared by the index and probe steps so their
    hyperplane families can never drift apart."""

    n_planes: int = 12
    n_tables: int = 1
    dim: int = 64
    seed: int = 42
    id_col: str = "vec_id"
    vec_col: str = "embedding"
    query_id_col: str = "query_id"
    query_vec_col: str = "query_vec"
    # DDL type of the CORPUS id column (e.g. "string" for doc ids).
    # Used to synthesize the empty-index frame when a query batch
    # arrives before first ingest — hard-coding bigint there would make
    # the pre-ingest top-k frame's id type differ from every later
    # batch, a schema-drift failure for appending sinks.
    id_type: str = "bigint"


def lsh_index_step(
    store_dir: str,
    cfg: LshAnnConfig = LshAnnConfig(),
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step maintaining the persisted LSH index. Wire as

        stream.writeStream.foreachBatch(lsh_index_step(store, cfg))
              .option("checkpointLocation", chk).start()

    ``compact_every=N`` applies the store retention cadence
    (``store_compact_every``, bucket-clustered so row-group pruning
    survives the merge) — without it a long-running index stream
    accumulates one partition directory per micro-batch forever,
    the same unbounded-metadata path the dedup stores bound.
    (dim, n_planes, n_tables, seed) define the hyperplanes and are
    recorded as the store's geometry: resuming with others fails loud
    instead of serving buckets no probe can reach. Probe
    results are unchanged by compaction: probes read the whole store,
    and merged rows are relabeled to the HIGHEST merged id — still
    strictly below the compaction watermark, so every live
    ``before_batch`` window sees exactly the same rows (the
    store.py contract). The step runs through the store lifecycle
    (``store_step``), so a NULL id fails the batch in-plan instead of
    being served back as a NULL neighbour."""
    return store_step(
        "lsh_index_step", store_dir, [Half(sort_key="bucket")],
        lambda batch_df: lsh_index_frame(
            batch_df,
            n_planes=cfg.n_planes,
            dim=cfg.dim,
            seed=cfg.seed,
            n_tables=cfg.n_tables,
            id_col=cfg.id_col,
            vec_col=cfg.vec_col,
        ),
        id_col=cfg.id_col, compact_every=compact_every,
        geometry={
            "family": "lsh", "dim": cfg.dim, "n_planes": cfg.n_planes,
            "n_tables": cfg.n_tables, "seed": cfg.seed,
        },
    )


def read_index(spark, store_dir: str) -> DataFrame | None:
    """The current index (all ingested batches); None iff the store
    does not exist yet. Real read faults propagate (store.py)."""
    return store_read(spark, store_dir)


def lsh_probe_step(
    store_dir: str,
    sink: Callable[[DataFrame, int], None],
    k: int = 10,
    n_probes: int = 0,
    cfg: LshAnnConfig = LshAnnConfig(),
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step serving ANN queries from the persisted index:
    each query micro-batch's top-k frame is handed to ``sink``. A
    query batch arriving before any corpus was ingested yields an
    empty result frame (schema intact), not an error."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        idx = read_index(batch_df.sparkSession, store_dir)
        if idx is None:
            idx = batch_df.sparkSession.createDataFrame(
                [], f"id {cfg.id_type}, vec array<double>, bucket long"
            )
        topk = lsh_probe_topk(
            idx,
            batch_df,
            k=k,
            n_planes=cfg.n_planes,
            dim=cfg.dim,
            seed=cfg.seed,
            n_probes=n_probes,
            n_tables=cfg.n_tables,
            id_col=cfg.id_col,
            query_id_col=cfg.query_id_col,
            query_vec_col=cfg.query_vec_col,
        )
        sink(topk, batch_id)

    return step


def ivf_index_step(
    store_dir: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step maintaining a persisted IVF inverted file.
    ``centroids`` must be FROZEN across the stream's lifetime (train
    on a bootstrap sample with ``train_centroids``): cell ids are only
    comparable across batches under one quantizer — retraining means
    rebuilding the store, so they are recorded as the store's geometry
    and resuming with others fails loud. ``compact_every``: the
    standard partition-directory retention cadence (see
    ``lsh_index_step``), cell-clustered; NULL ids fail loud likewise."""
    return _ivf_store_step(
        store_dir,
        centroids,
        lambda batch_df: ivf_index_frame(
            batch_df, centroids, id_col=id_col, vec_col=vec_col
        ),
        id_col,
        compact_every,
    )


def _ivf_store_step(store_dir, centroids, index_frame, id_col, compact_every):
    """The IVF index family's lifecycle step over one store directory:
    ``index_frame(batch_df)`` rows, cell-clustered, under the geometry
    ``centroids`` define."""
    return store_step(
        "ivf_index_step", store_dir, [Half(sort_key="cell")], index_frame,
        id_col=id_col, compact_every=compact_every,
        geometry={
            "family": "ivf", "centroids": [[float(x) for x in c] for c in centroids]
        },
    )


def ivf_probe_step(
    store_dir: str,
    centroids: list[list[float]],
    sink: Callable[[DataFrame, int], None],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_type: str = "bigint",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step serving IVF ANN queries from the persisted
    inverted file — the cell-keyed twin of ``lsh_probe_step``.
    ``id_type`` is the corpus id column's DDL type, used only for the
    empty-index frame served before first ingest (keeps the pre-ingest
    top-k schema identical to every later batch)."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        idx = read_index(batch_df.sparkSession, store_dir)
        if idx is None:
            idx = batch_df.sparkSession.createDataFrame(
                [], f"id {id_type}, vec array<double>, cell int"
            )
        topk = ivf_probe_topk(
            idx,
            batch_df,
            centroids,
            k=k,
            n_probe=n_probe,
            id_col=id_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        )
        sink(topk, batch_id)

    return step


# ------------------- generation-aware IVF store (retraining lifecycle)
#
# Frozen centroids keep cell ids comparable across micro-batches, but a
# drifting corpus distribution degrades probe recall (queries and their
# true neighbors start disagreeing about which stale cell they belong
# to). The documented remedy — "retrain = rebuild the store" — is real
# code here: the store root holds numbered GENERATIONS, each a complete
# ``ingest_batch``-partitioned inverted file built under one centroid
# set, plus an atomically-swapped meta file naming the current
# generation and its centroids. Serving reads the meta per micro-batch,
# so queries keep being answered from the old generation for the whole
# (potentially long) rebuild and flip to the new one only at the
# ``os.replace`` instant.
#
# Replay contract mirrors store_compact: retrain with
# ``up_to_batch`` = the stream's committed watermark. The rebuild reads
# STRICTLY-PRIOR rows only, so a failed in-flight batch's partial rows
# are excluded and its replay appends its own partition to the new
# generation — never duplicated, never lost.
#
# WHEN to retrain is a policy, not just a mechanism:
# ``ivf_drift_index_step`` measures each batch's mean
# distance-to-assigned-centroid (an Observation riding the append
# write — zero extra passes) against the generation's recorded
# baseline and invokes ``ivf_retrain`` automatically when the corpus
# distribution has drifted past the threshold. Callers wanting manual
# control keep ``ivf_gen_index_step`` + their own ``ivf_retrain``
# schedule.

_IVF_META = "_ivf_meta.json"


def _ivf_meta_path(root: str) -> str:
    return os.path.join(root, _IVF_META)


def _ivf_gen_dir(root: str, gen: int) -> str:
    return os.path.join(root, f"gen={gen}")


def _write_ivf_meta(
    root: str,
    gen: int,
    centroids: list[list[float]],
    ref_dist: float | None = None,
) -> None:
    meta: dict = {"generation": gen, "centroids": centroids}
    if ref_dist is not None:
        meta["ref_dist"] = ref_dist
    write_json(_ivf_meta_path(root), meta)  # atomic swap


def ivf_store_meta(root: str) -> dict:
    """Current ``{"generation": int, "centroids": [...]}`` (plus
    ``ref_dist``, the quantizer's reference mean
    distance-to-assigned-centroid, once established — see
    ``ivf_drift_index_step``). Fail-loud on a missing store (same
    discipline as store_read's non-PATH errors): serving from a
    half-initialized root must not silently return empty answers."""
    try:
        with open(_ivf_meta_path(root)) as f:
            return json.load(f)
    except FileNotFoundError:
        raise RuntimeError(
            f"IVF store at {root} has no meta file — call ivf_store_init "
            f"with bootstrap centroids before indexing or serving"
        ) from None


def ivf_store_init(
    root: str, centroids: list[list[float]], ref_dist: float | None = None
) -> None:
    """Create generation 0 under bootstrap centroids (train them on a
    bootstrap sample with ``train_centroids``). ``ref_dist`` seeds the
    drift baseline when known (e.g. measured on the bootstrap sample);
    otherwise ``ivf_drift_index_step`` establishes it from its first
    batch."""
    _write_ivf_meta(root, 0, centroids, ref_dist=ref_dist)


def ivf_gen_index_step(
    root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch index maintenance against the CURRENT generation —
    the generation-aware twin of ``ivf_index_step``. Reads the meta per
    micro-batch so a retrain swap redirects new batches to the new
    generation without restarting the stream. ``compact_every``
    compacts the current generation's partition directories on the
    standard cadence (a retrain already rebuilds the NEW generation
    into one partition, so this bounds the no-drift steady state)."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        _ivf_gen_append(
            root,
            batch_df,
            batch_id,
            lambda df, centroids: ivf_index_frame(
                df, centroids, id_col=id_col, vec_col=vec_col
            ),
            id_col,
            compact_every,
        )

    return step


def _ivf_gen_append(
    root: str,
    batch_df: DataFrame,
    batch_id: int,
    index_frame: Callable[[DataFrame, list[list[float]]], DataFrame],
    id_col: str,
    compact_every: int | None,
) -> dict:
    """The one generation-append path of ``ivf_gen_index_step`` and
    ``ivf_drift_index_step``: one meta read, the IVF lifecycle step
    against the current generation's directory (each generation records
    its own centroids as its geometry), then the generation guard.
    Returns the meta the batch was written under."""
    meta = ivf_store_meta(root)
    _ivf_store_step(
        _ivf_gen_dir(root, meta["generation"]),
        meta["centroids"],
        lambda df: index_frame(df, meta["centroids"]),
        id_col,
        compact_every,
    )(batch_df, batch_id)
    # generation guard: if a retrain swapped the meta between this
    # batch's read and its append, the rows just written carry the
    # OLD centroids' cell ids in an obsolete generation — fail the
    # micro-batch so Structured Streaming replays it against the
    # new generation (the orphan partition in the old generation is
    # harmless; replays are idempotent per generation). This turns
    # the index-during-retrain race into a clean retry instead of
    # silently lost vectors.
    if ivf_store_meta(root)["generation"] != meta["generation"]:
        raise RuntimeError(
            f"IVF generation changed during batch {batch_id} "
            f"(retrain swap mid-batch) — failing for replay against "
            f"the new generation"
        )
    return meta


def ivf_gen_probe_step(
    root: str,
    sink: Callable[[DataFrame, int], None],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_type: str = "bigint",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch query serving from the CURRENT generation — probes
    whatever generation the meta names at batch start, so serving
    continues uninterrupted from the old generation during a rebuild."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        meta = ivf_store_meta(root)
        # delegate to the frozen-centroid probe against the current
        # generation's directory — empty-index synthesis, probe, and
        # sink wiring live in exactly one place
        ivf_probe_step(
            _ivf_gen_dir(root, meta["generation"]),
            meta["centroids"],
            sink,
            k=k,
            n_probe=n_probe,
            id_col=id_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            id_type=id_type,
        )(batch_df, batch_id)

    return step


def ivf_drift_index_step(
    root: str,
    drift_ratio: float = 1.5,
    min_drift: float = 0.02,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    n_iters: int = 3,
    sample_cap: int = 100_000,
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch index maintenance with AUTOMATIC drift-triggered
    retraining — the policy half to the ``ivf_retrain`` mechanism.
    Each micro-batch:

    1. appends to the current generation through
       ``ivf_gen_index_step``'s path (one meta read, the generation's
       geometry record, the generation guard), with the batch's
       mean distance-to-assigned-centroid ``1 - max_c cos(vec, c)``
       riding the SAME write action as an ``Observation`` — the drift
       metric costs zero extra passes and zero new collects;
    2. if the meta has no ``ref_dist`` yet, records this batch's mean
       as the baseline (atomic meta rewrite — generation unchanged);
    3. triggers ``ivf_retrain(up_to_batch=batch_id)`` when the batch
       mean exceeds ``drift_ratio × max(ref_dist, min_drift)`` — the
       corpus distribution has moved enough that the frozen quantizer
       is assigning new vectors to far-away cells (probe recall decays
       exactly then). ``min_drift`` is the absolute floor that stops a
       near-perfectly-clustered baseline (ref ≈ 0) from retraining on
       noise. The retrain resets ``ref_dist`` to the rebuilt corpus's
       mean under the NEW centroids, so the trigger self-calibrates
       per generation. ``n_centroids`` defaults to the store's
       CURRENT centroid count (read at trigger time) — an
       auto-retrain must not silently change the quantizer's K the
       caller chose at init; pass it explicitly to rescale K.

    Watermark safety: inside foreachBatch at batch b every batch < b
    is durably committed, so ``up_to_batch = b`` is a safe retrain
    watermark; the just-written batch b itself is picked up by the
    straggler migration, and a later replay of b overwrites its own
    partition in the new generation — the exact interleaving already
    pinned by the migration/guard tests."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        import math

        from pyspark.sql import Observation

        obs = Observation(f"ivf-drift-{batch_id}")

        def observed(df: DataFrame, centroids: list[list[float]]) -> DataFrame:
            idx = _indexed_with_dist(df, centroids, id_col, vec_col)
            # NaN-safe: a zero-norm vector's cosine is NaN and array_max
            # propagates it as the maximum — one such row would otherwise
            # poison the batch mean (and, on the baseline batch, persist a
            # NaN ref_dist that disables drift detection FOREVER, since
            # every NaN comparison is False). Exclude NaN rows from the
            # average; they carry no drift signal.
            clean_dist = F.when(
                F.isnan(F.col("__dist")), F.lit(None).cast("double")
            ).otherwise(F.col("__dist"))
            return idx.observe(obs, F.avg(clean_dist).alias("mean_dist")).drop(
                "__dist"
            )

        meta = _ivf_gen_append(
            root, batch_df, batch_id, observed, id_col, compact_every
        )
        mean_dist = obs.get.get("mean_dist")
        if mean_dist is None or math.isnan(mean_dist):
            return  # empty or all-degenerate batch: no drift evidence
        ref = meta.get("ref_dist")
        if ref is None:
            # best-effort TOCTOU narrowing: re-read the meta at write
            # time and skip if a concurrent retrain swapped generations
            # since the guard above (writing the batch-start snapshot
            # back would roll the swap back); the retrain itself just
            # recalibrated ref_dist, so skipping is semantically right
            cur = ivf_store_meta(root)
            if cur["generation"] == meta["generation"]:
                _write_ivf_meta(
                    root, cur["generation"], cur["centroids"], ref_dist=mean_dist
                )
        elif not math.isnan(ref) and mean_dist > drift_ratio * max(ref, min_drift):
            ivf_retrain(
                batch_df.sparkSession,
                root,
                up_to_batch=batch_id,
                n_centroids=(
                    n_centroids if n_centroids is not None
                    else len(meta["centroids"])
                ),
                n_iters=n_iters,
                sample_cap=sample_cap,
            )

    return step


def _indexed_with_dist(
    df: DataFrame, centroids: list[list[float]], id_col: str, vec_col: str
) -> DataFrame:
    """``ivf_index_frame``'s (id, vec, cell) plus ``__dist`` =
    1 - cosine to the assigned centroid, with the per-row
    centroid-similarity array computed ONCE: ``ivf_assign`` +
    a separate distance expression would each expand the full
    K-dot-product tree (no cross-expression CSE), doubling the
    quantizer cost of every indexed row. The ``__sims`` column is
    referenced more than once, so CollapseProject keeps it
    materialized per row. Tie-break matches ``ivf_assign`` exactly
    (array_position = first occurrence of the max)."""
    v = df.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("vec")
    ).withColumn("__sims", _centroid_sims(F.col("vec"), centroids))
    best = F.array_max(F.col("__sims"))
    return v.select(
        "id",
        "vec",
        (F.array_position(F.col("__sims"), best) - 1).cast("int").alias("cell"),
        (F.lit(1.0) - best).alias("__dist"),
    )


def ivf_retrain(
    spark,
    root: str,
    up_to_batch: int,
    n_centroids: int = 16,
    n_iters: int = 3,
    sample_cap: int = 100_000,
    drop_old: bool = False,
) -> int:
    """Retrain the coarse quantizer on the current corpus and rebuild
    the inverted file as a NEW generation, swapping atomically. Returns
    the new generation id.

    - Training reads a DETERMINISTIC bounded sample (xxhash64-strided
      to ~``sample_cap`` rows — one count + one filtered pass, never a
      full collect; the k-means itself only ever collects centroids).
    - The rebuild reads rows with ``ingest_batch < up_to_batch``
      (``up_to_batch`` must be at or below the committed watermark —
      see module note) and lands them as one partition ``ingest_batch
      = up_to_batch - 1`` of ``gen+1``; batches that committed to the
      old generation AT OR AFTER ``up_to_batch`` during/before the
      rebuild are then MIGRATED per-partition (cells recomputed under
      the new centroids, original batch ids kept) so nothing committed
      is lost and a replay still overwrites exactly its own partition.
      A batch racing the swap itself is caught by the generation guard
      in ``ivf_gen_index_step`` and replayed into the new generation.
    - A stale ``gen+1`` directory from a retrain that crashed before
      its meta swap is cleared before rebuilding (meta still names the
      old generation, so the stale rebuild was never visible).
    - Serving flips at the meta ``os.replace``; ``drop_old`` deletes
      the previous generation's directory afterwards. Only set it when
      no probe micro-batch can still be mid-flight against the old
      generation (e.g. the probe stream is paused, or after one full
      trigger interval) — a probe that read the meta pre-swap scans
      the old directory lazily and would fail mid-job if it vanishes.
      Default False: retire old generations out-of-band."""
    from ..functions.similarity import train_centroids

    meta = ivf_store_meta(root)
    old_gen = meta["generation"]
    old_dir = _ivf_gen_dir(root, old_gen)
    vecs = store_read(spark, old_dir, before_batch=up_to_batch)
    if vecs is None:
        raise RuntimeError(
            f"IVF store at {root} gen={old_gen} has no data to retrain on"
        )
    vecs = vecs.select("id", "vec")
    n = vecs.count()
    if n == 0:
        raise RuntimeError(
            f"IVF store at {root} gen={old_gen}: no committed rows below "
            f"batch {up_to_batch}"
        )
    stride = max(1, -(-n // sample_cap))  # ceil(n / cap)
    sample = vecs if stride == 1 else vecs.filter(
        F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(stride)) == 0
    )
    centroids = train_centroids(
        sample, n_centroids=n_centroids, n_iters=n_iters,
        id_col="id", vec_col="vec",
    )

    new_gen = old_gen + 1
    new_dir = _ivf_gen_dir(root, new_gen)
    if os.path.isdir(new_dir):
        # a retrain that crashed before its swap left an uncommitted
        # rebuild; a partial partition here would survive store_append's
        # per-partition overwrite and duplicate rows after this swap
        shutil.rmtree(new_dir)
    # the new generation's drift baseline rides the rebuild write as an
    # Observation (zero extra passes): mean distance-to-assigned-
    # centroid of the rebuilt corpus under the NEW quantizer — so the
    # drift trigger (ivf_drift_index_step) self-calibrates per
    # generation instead of comparing against a stale baseline. The
    # sims array is computed once per row (_indexed_with_dist) and
    # NaN rows (zero-norm vectors) are excluded, mirroring the drift
    # step's guards.
    import math

    from pyspark.sql import Observation

    rebuilt = _indexed_with_dist(vecs, centroids, "id", "vec")
    obs = Observation(f"ivf-retrain-ref-{new_gen}")
    rebuilt = rebuilt.observe(
        obs,
        F.avg(
            F.when(F.isnan(F.col("__dist")), F.lit(None).cast("double"))
            .otherwise(F.col("__dist"))
        ).alias("ref_dist"),
    )
    store_append(rebuilt.drop("__dist"), new_dir, up_to_batch - 1, sort_by="cell")
    new_ref = obs.get.get("ref_dist")
    if new_ref is not None and math.isnan(new_ref):
        new_ref = None

    # Migrate batches the index stream committed to the old generation
    # at/after the watermark while we were rebuilding: recompute their
    # cells under the NEW centroids, one partition each (replay-safe).
    def migrate_stragglers() -> None:
        from .store import store_partitions

        for b in store_partitions(old_dir):
            if b >= up_to_batch:
                part = spark.read.parquet(
                    os.path.join(old_dir, f"ingest_batch={b}")
                ).select("id", "vec")
                store_append(
                    ivf_index_frame(
                        part, centroids, id_col="id", vec_col="vec"
                    ),
                    new_dir,
                    b,
                    sort_by="cell",
                )

    # One pass before the swap (bulk) and one after: a batch appending
    # to the old generation AFTER the post-swap pass lists it
    # necessarily appended after the swap, so its generation guard
    # fires and the replay lands in the new generation — together the
    # two passes + the guard cover every interleaving (a batch caught
    # by BOTH the pass and the guard just overwrites its own partition
    # with identical content: idempotent).
    migrate_stragglers()
    # serving flips HERE (with the recalibrated drift baseline)
    _write_ivf_meta(root, new_gen, centroids, ref_dist=new_ref)
    migrate_stragglers()
    if drop_old:
        shutil.rmtree(old_dir, ignore_errors=True)
    return new_gen


def embedding_dedup_step(
    store_dir: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every: int | None = None,
    score=None,
) -> Callable[[DataFrame, int], DataFrame]:
    """foreachBatch step for streaming embedding-cosine near-dedup —
    the vector twin of ``near_dedup.simhash_dedup_step``, same wiring:
    returns a ``(batch_df, batch_id) -> admitted_df`` callable.

    Per micro-batch: batch vectors get the SAME single-table LSH
    bucket key the batch ``embedding_near_dups`` self-join uses; the
    store probe (bucket equi-join + exact cosine >= threshold against
    prior batches) drops cross-batch near-dups, then the within-batch
    self-join + ``dup_clusters`` min-id canonical drops within-batch
    ones. Admitted (id, vec, bucket) rows land in the batch's own
    ``ingest_batch`` partition — idempotent replay, like every store
    in this module; ``compact_every`` applies the standard retention
    cadence (bucket-clustered merge). First-seen-wins policy; agrees
    with the batch min-id canonical under id-ordered ingestion, same
    argument as near_dedup's policy note. ``score=`` enables the
    quality-aware WITHIN-BATCH survivor election (the
    ``dedup.keep_best`` policy over co-arriving dups) — cross-batch
    necessarily stays first-seen-wins; see
    ``store_step._drop_within_batch`` for the append-mode argument.
    STORE CONTRACT: (dim, n_planes, seed) define the buckets and are
    recorded as the store's geometry — resuming with others fails
    loud."""
    planes = hyperplanes(dim, n_planes, seed)
    return dedup_step(
        "embedding_dedup_step", store_dir, [Half(sort_key="bucket")],
        _vectors(id_col, vec_col, "bucket", lambda vec: lsh_signature(vec, planes)),
        _cosine_pairs("bucket", threshold),
        id_col=id_col, score=score, compact_every=compact_every,
        geometry={
            "family": "embedding", "dim": dim, "n_planes": n_planes, "seed": seed
        },
    )


def semantic_dedup_step(
    store_dir: str,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every: int | None = None,
    score=None,
) -> Callable[[DataFrame, int], DataFrame]:
    """Streaming SemDeDup (Abbas et al. 2023) — the cluster-scoped
    twin of ``embedding_dedup_step`` through the same store kernel
    (``_vectors`` + ``_cosine_pairs``) with the blocking key swapped:
    vectors block on their nearest-centroid CELL (``ivf_assign``) instead of
    an LSH bucket, so comparisons concentrate where the data is dense
    and a cell-boundary near-dup pair is invisible BY DESIGN (the
    batch ``semantic_dedup_pairs`` tradeoff — exact duplicates never
    split cells). Zero-norm vectors take a NULL cell and join nothing
    (admitted, like the batch operator's exclusion). STORE CONTRACT:
    ``centroids`` are part of the store's identity — re-clustering
    means a new store (the IVF generation rule); drift-retraining a
    dedup store would silently re-block history. They are recorded as
    the store's geometry, so resuming with others fails loud."""
    return dedup_step(
        "semantic_dedup_step", store_dir, [Half(sort_key="cell")],
        _vectors(id_col, vec_col, "cell", lambda vec: ivf_assign(vec, centroids)),
        _cosine_pairs("cell", threshold),
        id_col=id_col, score=score, compact_every=compact_every,
        geometry={
            "family": "semantic",
            "centroids": [[float(x) for x in c] for c in centroids],
        },
    )


def _vectors(id_col: str, vec_col: str, key_name: str, key_builder):
    """The vector family's signature builder: (id, vec, key) rows, the
    blocking key (LSH bucket or k-means cell) from ``key_builder``."""
    return lambda batch_df: batch_df.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("vec")
    ).withColumn(key_name, key_builder(F.col("vec")))


def _cosine_pairs(key_name: str, threshold: float):
    """The vector family's candidate join plus verify over two (id,
    vec, key) sides: key equi-join, then exact cosine >= threshold."""

    def pairs(a, b):
        def side(frames, tag):
            return frames[0].select(
                F.col("id").alias(f"id_{tag}"), F.col("vec").alias(f"__v{tag}"),
                key_name,
            )

        return (
            side(a, "a")
            .join(side(b, "b"), key_name)
            .filter(
                # ROUND-then-compare, exactly the batch verify's
                # predicate (_vector_near_dup_pairs) — a raw-cosine
                # comparison would admit boundary pairs the batch
                # operator reports as duplicates (true cosine 0.9499997
                # at threshold 0.95 rounds to 0.95 batch-side)
                F.round(cosine(F.col("__va"), F.col("__vb")), 6) >= threshold
            )
            .select("id_a", "id_b")
            .distinct()
        )

    return pairs


def pq_index_step(
    store_dir: str,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step maintaining a persisted PQ code store — the
    compressed twin of ``ivf_index_step``: each batch lands its (id,
    codes array<int>) rows (m ints per vector, the 100 TB memory/IO
    win) in its own ``ingest_batch`` partition. STORE CONTRACT:
    ``codebooks`` AND ``normalize`` are the store identity (the IVF
    generation rule — retraining or flipping normalization means
    re-encoding the store, never mixing). They are recorded as the
    store's geometry, so resuming with others fails loud; NULL ids fail
    loud as in ``lsh_index_step``."""
    from ..functions.pq import pq_encode

    return store_step(
        "pq_index_step", store_dir, [Half()],
        lambda batch_df: pq_encode(batch_df, codebooks, id_col, vec_col, normalize),
        id_col=id_col, compact_every=compact_every,
        geometry={
            "family": "pq",
            "codebooks": [[[float(x) for x in v] for v in sub] for sub in codebooks],
            "normalize": normalize,
        },
    )


def pq_probe_step(
    store_dir: str,
    codebooks: list[list[list[float]]],
    sink: Callable[[DataFrame, int], None],
    k: int = 10,
    normalize: bool = True,
    id_col: str = "vec_id",
    id_type: str = "bigint",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step serving ADC top-k from the PQ code store
    (current-index semantics like every probe here; a query batch
    before first ingest yields a typed empty frame). Exact two-stage
    refinement is deliberately NOT offered on the streaming path: the
    store holds codes only — refining would need the raw vectors the
    compression exists to avoid persisting; run batch ``pq_topk`` with
    ``refine=`` against the raw corpus when exact ranks matter."""
    from ..functions.pq import pq_topk

    def step(batch_df: DataFrame, batch_id: int) -> None:
        codes = store_read(batch_df.sparkSession, store_dir)
        if codes is None:
            # synthesize an empty CODES frame and run the real probe,
            # so the query-id type flows from the batch itself — a
            # hard-coded bigint here would schema-drift appending
            # sinks for string-keyed queries (the lsh_probe_step rule)
            codes = batch_df.sparkSession.createDataFrame(
                [], f"id {id_type}, codes array<int>"
            )
        sink(
            pq_topk(
                codes,
                batch_df,
                codebooks,
                k=k,
                id_col=id_col,
                query_id_col=query_id_col,
                query_vec_col=query_vec_col,
                normalize=normalize,
            ),
            batch_id,
        )

    return step
