"""The one micro-batch lifecycle of every store step: a stream written
into, and often checked against, state that it maintains itself (the
shape of the reference's dedupe workflow splice, workflow.clj:6-24).
The dedup families (hamming, minhash, containment, vector), the
exact-substring mask, novelty scoring, the KL drift monitor and the
DoReMi mixture monitors probe and admit through ``store_step``; the
LSH, IVF (frozen, generation and drift) and PQ indexes, the BM25
postings store and the HLL and count-min sketch stores only append
through it. Each supplies only its pure parts — a geometry record, a
frame builder, its store halves with their sort keys and shard
counts, and, when it probes, what it emits.

The exceptions: ``corpus_pipeline.py``'s ``pack_sequences_step``,
``pack_shards_step`` and ``corpus_curation_step``'s output store still
write by hand (the marks store's read needs ``merge_schema`` for
stores written before its ``max_id`` guard), and ``ivf_retrain``'s
rebuild and migration appends (``ann.py``) write a new generation
outside any micro-batch.

Per micro-batch ``b``, in this order:

1. ``store_compact_every`` on every half (at the start of ``b`` every
   batch below it is committed, so ``b`` is a safe watermark);
2. the geometry record (``_geometry.json`` at the store root): the
   parameters that define the stored rows' identity. A store without a
   record starts one; a changed geometry fails loud while any half
   holds data, because probing across it silently matches nothing or
   verifies on the wrong operands;
3. the ids: with ``unique_ids`` one batch-sized aggregate rejects NULL
   and duplicate ids (``_check_batch_ids``); otherwise, for a step with
   an ``id_col``, a NULL id fails in-plan on the frame builder's input,
   at no extra job — a NULL id equals no stored or batch id, so it
   would skip dedup, or be served back as a NULL neighbour;
4. the coupled-halves check, on each half's partition listing: a half
   with no partition below ``b`` counts as absent, so a replay of a
   batch whose first attempt crashed between two half writes finds the
   halves coupled again. Halves must be all present or all absent (an
   ``optional`` half may be absent while the others hold data), and
   ``absent`` halves (written only by another mode of the same family)
   must hold no prior data. Steps 1, 2 and 4 read listings and small
   files only, so a batch failing the geometry or a halves check starts
   no Spark job beyond step 3's id aggregate (``unique_ids`` steps);
5. a step with no ``emit`` appends each half's rows of the built
   frames unchanged, in ``halves`` order, and returns None: each frame
   is written once, so nothing is pinned and no prior half is read;
6. one ``pinned()`` scope, released on every exit, so a failing retry
   leaks no cache entry;
7. the signatures, eagerly pinned only now, after every guard, so a
   failing batch never pays the builder (for the binary families, a
   decode);
8. the family's emit, which reads the strictly-prior halves
   (``before_batch=b``) when it needs them (the KL drift monitor skips
   the read for a batch without features). For the dedup families
   (``dedup_step``) that is the drop set: one candidate-join-plus-verify
   ``pairs(a, b)`` probes the batch against the prior halves, then runs
   the within-batch self-join over the batch minus those drops
   (``id_a < id_b``); the survivor election is min id, or ``score``'s
   best; the union (disjoint by construction) is pinned;
9. each half's admitted rows appended to its ``ingest_batch=b``
   partition, in ``halves`` order — the write boundaries, as in step 5.
   A replay overwrites each of them and step 4 ignores them;
10. the emitted frame (for dedup: the batch minus the drops).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.dedup import best_member_drops, dup_clusters
from ..pin import pin, pinned
from .store import (
    _MANIFEST,
    _TMP,
    _check_no_pending_compaction,
    store_append,
    store_compact_every,
    store_partitions,
    store_read,
)

_GEOMETRY = "_geometry.json"


@dataclass(frozen=True)
class Half:
    """One directory of a family's store: ``name`` under the store root
    (``""`` is the root itself), the ``sort_key`` its partitions are
    clustered on, ``rows`` — the half's rows from the batch's
    signature frames (default: the first frame) — the ``max_files``
    each batch's partition is clamped to (``store_append``), and
    whether it is ``optional``: a batch that adds no rows to it leaves
    no partition, so it may lack data the other halves hold, but never
    hold data they lack."""

    name: str = ""
    sort_key: str | None = None
    rows: Callable[..., DataFrame] = lambda sig, *_: sig
    max_files: int = 4
    optional: bool = False


def _path(store_dir: str, name: str) -> str:
    return os.path.join(store_dir, name) if name else store_dir


def _holds_data(d: str) -> bool:
    # a pending compaction (manifest / staged tmp) means the data is
    # MID-SWAP, not pruned: between "sources deleted" and "tmp renamed"
    # a store shows zero partitions while the merged rows still exist
    return bool(
        store_partitions(d)
        or os.path.exists(os.path.join(d, _MANIFEST))
        or os.path.isdir(os.path.join(d, _TMP))
    )


def check_geometry(store_dir: str, geometry: dict, data_dirs: list[str]) -> None:
    """Record ``geometry`` on first use; fail loud when a store holding
    data was built with another one. A store whose data partitions have
    all been pruned away is fresh again and re-records."""
    geometry = json.loads(json.dumps(geometry))  # tuples read back as lists
    gpath = os.path.join(store_dir, _GEOMETRY)
    if os.path.exists(gpath):
        with open(gpath) as f:
            found = json.load(f)
        if found == geometry:
            return
        if any(_holds_data(d) for d in data_dirs):
            raise RuntimeError(
                f"store at {store_dir} was built with geometry {found} "
                f"but this step uses {geometry} — probing across a "
                "geometry change silently disables or corrupts every "
                "cross-batch match (stored keys never match); rebuild "
                "the store (or finish pruning it) rather than changing "
                "parameters mid-store"
            )
    write_json(gpath, geometry)


def write_json(path: str, record) -> None:
    """Replace the JSON record at ``path`` atomically, its content
    durable before the swap (like the compaction manifest): a
    zero-length record would brick every later reader in json.load."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    staged = path + ".staging"
    with open(staged, "w") as f:
        json.dump(record, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(staged, path)


def _check_batch_ids(batch_df: DataFrame, id_col: str, step_name: str) -> None:
    """Fail loud on NULL or duplicate ids in one micro-batch, before
    anything persists: a redelivered doc doubles its counts in the
    emitted rows AND in the store, a NULL id merges every id-less doc
    into one phantom row, and a replay rewrites the same corrupted
    partition. One batch-sized aggregate, collected to the driver."""
    bad = batch_df.agg(
        F.sum(F.when(F.col(id_col).isNull(), 1).otherwise(0)).alias("n_null"),
        (F.count(F.lit(1)) - F.count_distinct(F.col(id_col))).alias("n_dup"),
    ).collect()[0]
    if bad["n_null"] or bad["n_dup"]:
        raise ValueError(
            f"{step_name}: {bad['n_null']} NULL {id_col} / {bad['n_dup']} "
            f"duplicate {id_col} row(s) in one micro-batch — dedup and label "
            "upstream (counts merged or doubled here would persist in the "
            "store across replays)"
        )


def _has_prior(path: str, batch_id: int) -> bool:
    """Whether a half holds a partition below ``batch_id`` (the replayed
    batch's own partition does not count), from the listing alone."""
    _check_no_pending_compaction(path)
    return any(b < batch_id for b in store_partitions(path))


def _rows(halves: Sequence[Half], sigs: tuple[DataFrame, ...]) -> tuple:
    """Each half's rows from one side's signature frames."""
    return tuple(h.rows(*sigs) for h in halves)


def store_step(
    step_name: str,
    store_dir: str,
    halves: Sequence[Half],
    signatures: Callable[[DataFrame], DataFrame | tuple[DataFrame, ...]],
    emit: Callable[..., tuple[DataFrame, Sequence[DataFrame]]] | None = None,
    *,
    id_col: str | None,
    geometry: dict | None = None,
    absent: dict[str, str] | None = None,
    unique_ids: bool = False,
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], DataFrame | None]:
    """The lifecycle (module docstring) as a ``(batch_df, batch_id) ->
    frame`` foreachBatch step. ``signatures(batch_df)`` gives the
    frame(s) each half's ``rows`` take. Without ``emit`` those rows are
    appended as built and the step returns None. With it they are
    pinned, and ``emit(batch_df, sigs, prior)`` gives ``(out, rows)`` —
    the returned frame and one frame (or None) to append per half —
    where ``prior()`` reads the tuple of strictly-prior halves, and
    ``prior`` is None on a store with no data below this batch.
    ``id_col`` names the id column the NULL guard checks; None (the
    rows carry no id) skips the guard and must be passed explicitly.
    ``absent`` maps sibling half names to why they must hold no
    data."""
    paths = [_path(store_dir, h.name) for h in halves]
    targets = [(p, h.sort_key) for p, h in zip(paths, halves)]
    others = {name: _path(store_dir, name) for name in absent or {}}

    def step(batch_df: DataFrame, batch_id: int) -> DataFrame | None:
        spark = batch_df.sparkSession
        store_compact_every(spark, targets, batch_id, compact_every)
        if geometry is not None:
            check_geometry(store_dir, geometry, paths + list(others.values()))
        if unique_ids:
            _check_batch_ids(batch_df, id_col, step_name)
        present = [_has_prior(p, batch_id) for p in paths]
        held = [h.name or "root" for h, has in zip(halves, present) if has]
        missing = [
            h.name for h, has in zip(halves, present) if not (has or h.optional)
        ]
        if held and missing:
            raise RuntimeError(
                f"{step_name}: store at {store_dir} is inconsistent: the "
                f"{', '.join(missing)} half is missing but "
                f"{', '.join(held)} holds data — the halves are written "
                "and pruned together (a changed store mode, or one half "
                "pruned alone); rebuild the store or prune every half "
                "together"
            )
        for name, path in others.items():
            if _has_prior(path, batch_id):
                raise RuntimeError(
                    f"{step_name}: store at {store_dir} carries a {name}/ "
                    f"half: {absent[name]}"
                )

        def read_prior() -> tuple[DataFrame, ...]:
            return tuple(store_read(spark, p, before_batch=batch_id) for p in paths)

        def append(rows: Sequence[DataFrame | None]) -> None:
            for p, h, r in zip(paths, halves, rows):
                if r is not None:  # None: the batch adds nothing to this half
                    store_append(
                        r, p, batch_id, max_files=h.max_files, sort_by=h.sort_key
                    )

        checked = batch_df
        if id_col is not None and not unique_ids:
            # on the builders' input, so rows that yield no signature
            # (too short to shingle) are checked too
            null_id = F.raise_error(F.lit(
                f"{step_name}: NULL {id_col} in a micro-batch — a NULL "
                "id equals no stored or batch id, so its row would "
                "pass the step unchecked; assign ids upstream"
            ))
            checked = batch_df.withColumn(
                id_col,
                F.when(F.col(id_col).isNull(), null_id).otherwise(F.col(id_col)),
            )
        with pinned() as keep:
            sigs = signatures(checked)
            sigs = sigs if isinstance(sigs, tuple) else (sigs,)
            if emit is None:  # written once: nothing to pin or probe
                append(_rows(halves, sigs))
                return None
            sigs = keep(*sigs)
            sigs = sigs if isinstance(sigs, tuple) else (sigs,)
            out, rows = emit(batch_df, sigs, read_prior if held else None)
            append(rows)
        return out

    return step


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

    SURVIVOR-POLICY CONTRACT: the score applies
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
    # reuse subtrees. The election itself is dedup.best_member_drops —
    # the ONE kernel shared with batch keep_best.
    member = pin(
        clusters.join(scores, "id")
        .select("cluster_id", F.col("id").alias("__m_id"), "__s")
    )
    return best_member_drops(member).select(F.col("__drop_id").alias("__drop"))


def _minus(df: DataFrame, drops: DataFrame, id_col: str = "id") -> DataFrame:
    return df.join(drops, df[id_col] == F.col("__drop"), "left_anti")


def dedup_step(
    step_name: str,
    store_dir: str,
    halves: Sequence[Half],
    signatures: Callable[[DataFrame], DataFrame | tuple[DataFrame, ...]],
    pairs: Callable[[tuple, tuple], DataFrame],
    *,
    id_col: str,
    score: Column | None = None,
    **lifecycle,
) -> Callable[[DataFrame, int], DataFrame]:
    """``store_step`` (``lifecycle``: its keyword options) for a drop
    family, whose signature frames carry the document id as ``id``.
    ``pairs(a, b)`` is the family's candidate join plus verify over two
    sides — each a tuple of frames shaped like ``halves`` — returning
    (id_a, id_b) with id_a from ``a``. The cross-batch probe
    is ``pairs(batch, prior)``; the within-batch side is ``pairs(rest,
    rest)`` with ``id_a < id_b`` over the batch minus the cross drops.
    Signature-less rows (too short to shingle, no fingerprint) match
    nothing and pass through: the return is the batch minus the
    drops."""

    def side(sigs: tuple[DataFrame, ...]) -> tuple[DataFrame, ...]:
        return _rows(halves, sigs)

    def emit(batch_df, sigs, prior):
        cross_drop, rest = None, sigs
        if prior is not None:
            # pinned: the self-join's sides, the survivor election and
            # the drop union all read it
            cross_drop = pin(
                pairs(side(sigs), prior())
                .select(F.col("id_a").alias("__drop"))
                .distinct()
            )
            rest = tuple(_minus(s, cross_drop) for s in sigs)
        within = pairs(side(rest), side(rest)).filter(F.col("id_a") < F.col("id_b"))
        scores = None if score is None else batch_df.select(
            F.col(id_col).alias("id"), score.alias("__s")
        )
        drops = _drop_within_batch(within, scores)
        if cross_drop is not None:
            # disjoint: the within-batch side never sees a cross drop
            drops = cross_drop.unionByName(drops)
        # ids only: pinned so the scope's signature caches can go
        drops = pin(drops)
        admitted = side(tuple(_minus(s, drops) for s in sigs))
        return _minus(batch_df, drops, id_col), admitted

    return store_step(
        step_name, store_dir, halves, signatures, emit, id_col=id_col, **lifecycle
    )
