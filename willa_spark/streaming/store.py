"""Partitioned micro-batch store discipline shared by every streaming
recipe in this package (near-dedup signature stores, ANN indexes, the
curation pipeline's shard output):

- each micro-batch writes its rows under an ``ingest_batch=<id>``
  partition directory, and a REPLAYED batch (foreachBatch may re-run
  after a failure) overwrites exactly its own partition — idempotent,
  never duplicating rows;
- dedup probes read STRICTLY-PRIOR partitions (``before_batch``) so a
  replay cannot match against its failed attempt's own rows; index
  probes read the whole current store.

The probe-and-admit steps use these functions through one micro-batch
lifecycle, ``store_step`` (its module docstring gives the order of work
and the write boundaries).

Only a genuinely-missing store reads as None (the first batch). Every
other read failure — permissions, corrupt footers, transient storage
faults — propagates and fails the micro-batch, because swallowing it
would serve silently wrong (empty) results, hand them to the sink as a
successful batch, and advance the checkpoint past them permanently.

Retention: one partition directory per micro-batch is replay-correct
but unbounded — a long-running stream accumulates directories and
small files until partition discovery itself becomes the bottleneck
(the classic streaming-metastore killer at 100 TB). Two controls:

- ``store_append`` clamps each batch's output to ``max_files`` shards
  (micro-batches inherit the session's shuffle-partition count
  otherwise — 32 near-empty files per tiny batch);
- ``store_compact`` bin-packs every partition STRICTLY BELOW a
  committed watermark into the single highest such partition
  directory. Probe semantics are preserved exactly for every batch
  that can still replay: foreachBatch only ever re-runs batches at or
  after the checkpoint's committed offset, so any live probe filters
  ``ingest_batch < b`` with ``b >= up_to_batch``, and the merged rows
  (now labeled ``up_to_batch - 1``) all still satisfy it. Compacting
  beyond the committed watermark is the CALLER's contract violation —
  a later replay of a compacted batch would see its own rows.

Compaction is crash-safe via a manifest write-ahead file: the merged
output is staged under ``_compact_tmp`` (underscore-prefixed — Spark's
partition discovery ignores it), then a manifest records the swap
before any directory is deleted. A reader that finds the manifest
fails loud (the store may be mid-swap and silently incomplete
otherwise); ``store_compact`` completes any pending swap first, so the
recovery path is "call compact again". At real cluster scale the same
protocol wants a table format's atomic commit (Delta/Iceberg); the
manifest is the single-filesystem equivalent with the same reader
contract.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PART_RE = re.compile(r"^ingest_batch=(\d+)$")
_MANIFEST = "_compact_manifest.json"
_TMP = "_compact_tmp"


def _fsync_dir(path: str) -> None:
    """fsync a DIRECTORY so a just-completed rename/replace of one of
    its entries is durable before dependent deletes run (fsyncing the
    manifest's CONTENT alone does not order its directory
    entry ahead of the source-partition deletes on power loss — a
    filesystem may persist the deletes but not the manifest, leaving
    the merged history as an unreferenced tmp dir the next compaction
    rmtree's as a stale stage)."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _check_no_pending_compaction(path: str) -> None:
    if os.path.exists(os.path.join(path, _MANIFEST)):
        raise RuntimeError(
            f"store at {path} has an unfinished compaction (manifest "
            f"present): reading it could serve a partially-swapped store. "
            f"Run store_compact(...) to complete the swap first."
        )


def store_read(
    spark,
    path: str,
    before_batch: int | None = None,
    merge_schema: bool = False,
) -> DataFrame | None:
    """The store's rows (``ingest_batch`` dropped); None iff the store
    does not exist yet. ``before_batch`` restricts to strictly-prior
    partitions — partition-pruned, the replay-safety read.

    ``merge_schema=True`` unions the footer schemas across partitions
    instead of trusting an arbitrary footer — REQUIRED for any store
    whose row schema has gained a column across code versions (e.g.
    the pack-sequences marks store's ``max_id`` guard column): without
    it Spark may pick a pre-upgrade footer and silently drop the new
    column for every partition. Costs footer reads only."""
    if os.path.isdir(path):
        _check_no_pending_compaction(path)
        if all(e.startswith("_") for e in os.listdir(path)):
            # a root holding ONLY underscore-prefixed metadata (the
            # geometry record is written before the first append) is a
            # store with no data: reading it would raise
            # UNABLE_TO_INFER_SCHEMA — it IS the first-batch state.
            # Any non-metadata entry (a flattened/corrupt layout, a
            # stray file) falls through to the read and FAILS LOUD:
            # returning None for it would serve a silently-empty store
            # (a broader no-partitions guard breaks the corrupt-store
            # propagation test)
            return None
    try:
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(path)
    except AnalysisException as e:
        cond = e.getCondition() if hasattr(e, "getCondition") else None
        if cond == "PATH_NOT_FOUND":
            return None
        raise
    if before_batch is not None:
        df = df.filter(F.col("ingest_batch") < before_batch)
    return df.drop("ingest_batch")


def store_read_batch(spark, path: str, batch_id: int) -> DataFrame:
    """Scan of exactly one ``ingest_batch=<id>`` partition — what the
    streaming steps hand back after appending, so a caller consuming
    the return reads the written rows instead of re-running the
    producing plan. Fails loud mid-compaction like every reader here.

    LIFETIME CONTRACT: consume within the micro-batch that produced
    it (the normal foreachBatch shape). The frame is lazy and pinned
    to the raw partition path; a later ``store_compact`` may merge
    and DELETE that directory, failing a held reference at evaluation
    time — by design, the same reason ``store_read`` probes carry a
    batch watermark."""
    _check_no_pending_compaction(path)
    return spark.read.parquet(os.path.join(path, f"ingest_batch={batch_id}"))


def store_append(
    df: DataFrame,
    path: str,
    batch_id: int,
    max_files: int = 4,
    sort_by: str | None = None,
) -> bool:
    """Write this batch's partition idempotently: a retry overwrites
    exactly its own ``ingest_batch=<id>`` directory. Output is clamped
    to ``max_files`` shards so tiny micro-batches don't inherit the
    session's shuffle-partition count as near-empty files (the
    repartition costs one small exchange of the batch's admitted rows
    and keeps upstream join parallelism intact, unlike a coalesce that
    would propagate into the producing stages). The clamp is
    UNCONDITIONAL: probing the producing plan's partition count first
    (``df.rdd.getNumPartitions()``) looks cheaper but under AQE it
    EXECUTES the plan's shuffle stages — and the subsequent write is a
    separate query execution that re-runs them, doubling every
    micro-batch's compute. One small exchange of the admitted rows is
    strictly cheaper than recomputing the pipeline that produced them.
    A caller with genuinely large batches should raise ``max_files``
    rather than let 4 tasks serialize the write stage.

    ``sort_by`` CLUSTERS the partition on a key column: rows are
    hash-partitioned then sorted on the key before writing, so
    parquet row-group min/max statistics actually prune probe scans on
    that key. This is what makes the ANN stores' "the probe reads only
    the joined bucket keys' row groups" claim true — an unsorted
    round-robin layout scatters every bucket across every row group
    and the statistics prune nothing.

    An EMPTY batch (Structured Streaming delivers them, e.g. on
    watermark-only progress) leaves no partition behind: AQE gives an
    empty frame zero output partitions, so the write produces a
    FILE-LESS directory that would poison whole-store schema
    inference (UNABLE_TO_INFER_SCHEMA on the next probe — found by
    the any-batch-boundaries congruity property). A file-less
    partition means "this batch admitted nothing"; removing it (and a
    fully-emptied store root, restoring the missing-store-reads-None
    first-batch contract) is exactly the overwrite-with-nothing
    semantics a replay needs. The root removal defers to any pending
    compaction (manifest / staged tmp present): merged history staged
    mid-swap must never be destroyed by an empty batch. Returns
    whether the partition was KEPT — a caller handing back the
    written rows (``store_read_batch``) must synthesize an empty
    frame instead when nothing was written."""
    if sort_by is not None:
        df = df.repartition(max_files, sort_by).sortWithinPartitions(sort_by)
    else:
        df = df.repartition(max_files)
    part_dir = os.path.join(path, f"ingest_batch={batch_id}")
    df.write.mode("overwrite").parquet(part_dir)
    if any(f.endswith(".parquet") for f in os.listdir(part_dir)):
        return True
    shutil.rmtree(part_dir, ignore_errors=True)
    if (
        not store_partitions(path)
        and not os.path.exists(os.path.join(path, _MANIFEST))
        and not os.path.isdir(os.path.join(path, _TMP))
    ):
        shutil.rmtree(path, ignore_errors=True)
    return False


def store_compact_every(
    spark,
    dirs: list[tuple[str, str | None]],
    batch_id: int,
    every: int | None,
) -> None:
    """In-pipeline retention cadence shared by the streaming steps: at
    the START of batch ``b`` every batch < b is durably committed
    (foreachBatch replays only the in-flight batch), so
    ``up_to_batch = b`` is always a safe compaction watermark — the one
    contract ``store_compact`` requires. Runs every ``every`` batches;
    a compaction interrupted mid-swap is rolled forward by the next
    attempt. Each entry is ``(dir, sort_key)`` — stores written
    key-clustered MUST compact with the same key or the merge silently
    destroys the row-group pruning layout."""
    if every and batch_id > 0 and batch_id % every == 0:
        for d, key in dirs:
            store_compact(spark, d, up_to_batch=batch_id, sort_by=key)


def store_prune(path: str, before_batch: int) -> int:
    """TTL-style retention: DELETE whole partitions with
    ``ingest_batch < before_batch``. Returns the number removed.

    This is a POLICY operation, not an optimization: pruning a dedup
    signature store forgets old documents, so duplicates of anything
    older than the window get re-admitted — the standard
    bounded-memory windowed-dedup trade (dedup against the last N
    batches only). Use ``store_compact`` when history must be kept.
    Deletion is per-partition and monotone, so a crash midway leaves a
    smaller-but-valid store (no manifest needed); refuses to run
    mid-compaction for the same reason readers do."""
    if not os.path.isdir(path):
        return 0
    _check_no_pending_compaction(path)
    victims = [b for b in store_partitions(path) if b < before_batch]
    for b in victims:
        shutil.rmtree(os.path.join(path, f"ingest_batch={b}"))
    if victims and not store_partitions(path):
        # pruning everything must leave a GENUINELY-missing store, not
        # an empty directory: spark.read.parquet on a partitionless dir
        # raises UNABLE_TO_INFER_SCHEMA, which store_read treats (by
        # design) as a real fault — removing the root restores the
        # "missing store reads as None" first-batch contract
        shutil.rmtree(path, ignore_errors=True)
    return len(victims)


def store_partitions(path: str) -> list[int]:
    """Sorted ingest-batch ids present as partition directories."""
    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        m = _PART_RE.match(name)
        if m and os.path.isdir(os.path.join(path, name)):
            out.append(int(m.group(1)))
    return sorted(out)


def _dir_bytes(path: str, batch: int) -> int:
    d = os.path.join(path, f"ingest_batch={batch}")
    total = 0
    for root, _dirs, files in os.walk(d):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _finish_pending_compaction(path: str) -> None:
    """Complete a manifest-recorded swap (idempotent). The manifest is
    written only AFTER the merged output is fully staged, so recovery
    is always roll-FORWARD: delete the source partitions, move the
    staged merge into place, drop the manifest."""
    mpath = os.path.join(path, _MANIFEST)
    if not os.path.exists(mpath):
        return
    with open(mpath) as f:
        m = json.load(f)
    dest = os.path.join(path, f"ingest_batch={m['dest']}")
    tmp = os.path.join(path, _TMP)
    if os.path.isdir(tmp):
        for b in m["merged"]:
            d = os.path.join(path, f"ingest_batch={b}")
            if os.path.isdir(d):
                shutil.rmtree(d)
        os.rename(tmp, dest)
    elif os.path.isdir(dest):
        # tmp already moved into place; only source deletes may remain
        for b in m["merged"]:
            if b == m["dest"]:
                continue
            d = os.path.join(path, f"ingest_batch={b}")
            if os.path.isdir(d):
                shutil.rmtree(d)
    else:
        raise RuntimeError(
            f"store at {path}: compaction manifest present but neither "
            f"staged output nor destination partition exists — manual "
            f"inspection required"
        )
    # the deletes (and rename) must be durable BEFORE the manifest is
    # removed, on BOTH branches: if the manifest removal persisted but
    # a source delete did not, the store would reboot with the merged
    # dest AND resurrected source copies of the same rows and no
    # manifest left to reconcile — double-counted probes
    _fsync_dir(path)
    os.remove(mpath)


def store_compact(
    spark,
    path: str,
    up_to_batch: int,
    max_files: int = 4,
    sort_by: str | None = None,
) -> int:
    """Bin-pack every ``ingest_batch`` partition STRICTLY BELOW
    ``up_to_batch`` into the single highest such partition directory,
    bounding directory count (and file count, via ``max_files``) on a
    long-running stream. Returns the number of partitions merged (0 =
    nothing to do).

    ``up_to_batch`` must not exceed the stream's committed watermark
    (the latest batch id whose checkpoint commit is durable): batches
    below it can never replay, so no live probe ever filters at a
    boundary inside the merged range — ``before_batch`` semantics are
    preserved exactly for every batch that can still run. Dedup/ANN
    results before and after compaction are identical (pinned by
    tests).

    Tiered, not monolithic: the single largest eligible partition is
    EXCLUDED from the merge while it holds more than twice the other
    eligible partitions' combined bytes (a dominance it only has as
    the historical mega-partition). Re-merging that partition on every call
    would make cumulative compaction I/O quadratic in stream length
    (each periodic call re-reads everything ever ingested); under this
    rule small tail partitions fold together cheaply each round and
    the big partition is only rewritten once the accumulated tail
    rivals it — the classic size-tiered amortization. Correctness is
    unaffected: merged rows get the label ``max(merged ids)`` which
    stays strictly below ``up_to_batch``, so every live probe
    (``ingest_batch < b`` with ``b >= up_to_batch``) sees exactly the
    same rows whether or not the big partition joined the merge.

    Crash-safe: completes any pending swap first, stages the merged
    rows under an underscore-prefixed temp dir invisible to partition
    discovery, and only deletes source partitions after a manifest
    records the swap; readers fail loud while the manifest exists."""
    _finish_pending_compaction(path)
    merged = [b for b in store_partitions(path) if b < up_to_batch]
    if len(merged) > 1:
        sizes = {b: _dir_bytes(path, b) for b in merged}
        biggest = max(merged, key=lambda b: sizes[b])
        if sizes[biggest] > 2 * (sum(sizes.values()) - sizes[biggest]):
            merged = [b for b in merged if b != biggest]
    if len(merged) <= 1:
        return 0
    dest = max(merged)
    tmp = os.path.join(path, _TMP)
    if os.path.isdir(tmp):  # stale stage from a pre-manifest crash
        shutil.rmtree(tmp)
    # mergeSchema unconditionally: if partitions straddle a row-schema
    # upgrade (a later-added column such as the marks store's max_id),
    # a plain read could pick a pre-upgrade footer and the rewrite
    # would bake the column-less schema in permanently; merged rows
    # carry NULL for columns their source partition lacked
    rows = spark.read.option("mergeSchema", "true").parquet(path).filter(
        F.col("ingest_batch").isin(merged)
    ).drop("ingest_batch")
    if sort_by is not None:  # preserve the key clustering (see store_append)
        rows = rows.repartition(max_files, sort_by).sortWithinPartitions(sort_by)
    else:
        rows = rows.repartition(max_files)
    rows.write.mode("overwrite").parquet(tmp)

    mpath = os.path.join(path, _MANIFEST)
    staged = mpath + ".staging"
    with open(staged, "w") as f:
        json.dump({"merged": merged, "dest": dest}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(staged, mpath)  # atomic: manifest appears fully-written
    # make the manifest's directory entry durable BEFORE any source
    # partition is deleted: the roll-forward protocol is only
    # power-loss-safe if the manifest is guaranteed to survive
    # whenever a delete did
    _fsync_dir(path)

    _finish_pending_compaction(path)
    return len(merged)
