"""Streaming ANN (foreachBatch + persisted LSH bucket index):
congruity with the batch ``lsh_topk``, empty-store behavior, and
replay idempotency of the partitioned index store."""

import os
import random
import time

from willa_spark.functions import similarity as S
from willa_spark.streaming.ann import (
    LshAnnConfig,
    lsh_index_step,
    lsh_probe_step,
    read_index,
)

DIM = 8
CFG = LshAnnConfig(n_planes=3, n_tables=4, dim=DIM, seed=7)


def _vecs(n, seed):
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(DIM)] for _ in range(n)]


def _corpus_batches(spark):
    vs = _vecs(30, 1)
    rows = [(i, vs[i]) for i in range(30)]
    mk = lambda rs: spark.createDataFrame(rs, "vec_id bigint, embedding array<double>")
    return [mk(rows[:10]), mk(rows[10:20]), mk(rows[20:])], mk(rows)


def _queries(spark):
    # 3 corpus vectors as self-queries + 2 fresh vectors
    vs = _vecs(30, 1)
    qs = [(100, vs[3]), (101, vs[17]), (102, vs[25])] + [
        (200 + i, v) for i, v in enumerate(_vecs(2, 99))
    ]
    return spark.createDataFrame(qs, "query_id bigint, query_vec array<double>")


def _drive_ingest(spark, tmp_path, store):
    """Feed corpus batches through a REAL readStream → foreachBatch
    index-maintenance pipeline (one file per micro-batch)."""
    batches, full = _corpus_batches(spark)
    d = os.path.join(str(tmp_path), "in")
    os.makedirs(d)
    for b in batches:
        b.coalesce(1).write.mode("append").parquet(d)
        time.sleep(0.05)
    schema = spark.read.parquet(d).schema
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    q = (
        src.writeStream.foreachBatch(lsh_index_step(store, CFG))
        .option("checkpointLocation", os.path.join(str(tmp_path), "chk"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "ingest stream did not drain"
    return full


def _probe_rows(spark, store, queries, k=5, n_probes=1):
    got = []

    def sink(topk, _bid):
        got.extend(
            (r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
            for r in topk.collect()
        )

    lsh_probe_step(store, sink, k=k, n_probes=n_probes, cfg=CFG)(queries, 0)
    return sorted(got)


def test_streaming_ann_congruity(spark, tmp_path):
    """Top-k served from the streamed-in index must equal the batch
    lsh_topk over the full corpus — same seeded hyperplane family via
    the shared builders, so equality is exact, including scores and
    deterministic tie-broken ranks."""
    store = os.path.join(str(tmp_path), "store")
    full = _drive_ingest(spark, tmp_path, store)
    queries = _queries(spark)
    got = _probe_rows(spark, store, queries)

    want = sorted(
        (r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
        for r in S.lsh_topk(
            full,
            queries,
            k=5,
            n_planes=CFG.n_planes,
            dim=CFG.dim,
            seed=CFG.seed,
            n_probes=1,
            n_tables=CFG.n_tables,
        ).collect()
    )
    assert got == want and len(got) > 0
    # self-queries must find themselves at rank 1 (identical vector ⇒
    # same bucket in every table ⇒ cosine 1.0 dominates)
    rank1 = {q: c for q, c, _s, rk in got if rk == 1}
    assert rank1[100] == 3 and rank1[101] == 17 and rank1[102] == 25


def test_streaming_ann_replay_idempotent(spark, tmp_path):
    """A replayed index micro-batch overwrites exactly its own
    partition: index row count and probe results are unchanged."""
    store = os.path.join(str(tmp_path), "store")
    batches, _ = _corpus_batches(spark)
    step = lsh_index_step(store, CFG)
    for i, b in enumerate(batches):
        step(b, i)
    n1 = read_index(spark, store).count()
    before = _probe_rows(spark, store, _queries(spark))
    step(batches[1], 1)  # replay the middle batch
    assert read_index(spark, store).count() == n1
    assert _probe_rows(spark, store, _queries(spark)) == before


def test_streaming_ann_probe_before_ingest(spark, tmp_path):
    """Queries arriving before any corpus: empty result, not an error."""
    store = os.path.join(str(tmp_path), "missing-store")
    assert _probe_rows(spark, store, _queries(spark)) == []


def test_probe_before_ingest_schema_matches_later_batches(spark, tmp_path):
    """The empty-store fallback frame must carry the CONFIGURED corpus
    id type (here: string doc ids), not a hard-coded bigint — otherwise
    the pre-ingest top-k batch's schema differs from every later one,
    breaking appending sinks on the very first micro-batch."""
    from willa_spark.streaming.ann import ivf_index_step, ivf_probe_step

    cfg = LshAnnConfig(
        n_planes=3, n_tables=2, dim=DIM, seed=7,
        id_col="doc", id_type="string",
    )
    store = os.path.join(str(tmp_path), "str-store")
    corpus = spark.createDataFrame(
        [(f"d{i}", v) for i, v in enumerate(_vecs(6, 2))],
        "doc string, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(7, v) for v in _vecs(1, 3)], "query_id bigint, query_vec array<double>"
    )

    schemas = []
    sink = lambda topk, _bid: schemas.append(topk.schema)
    probe = lsh_probe_step(store, sink, k=3, cfg=cfg)
    probe(queries, 0)                      # before any ingest
    lsh_index_step(store, cfg)(corpus, 0)  # first ingest
    probe(queries, 1)                      # after ingest
    assert schemas[0] == schemas[1]
    assert schemas[0]["doc"].dataType.typeName() == "string"

    # IVF twin: same contract via the id_type parameter
    centroids = S.train_centroids(corpus, n_centroids=2, n_iters=1, id_col="doc")
    ivf_store = os.path.join(str(tmp_path), "str-ivf")
    schemas.clear()
    iprobe = ivf_probe_step(
        ivf_store, centroids, sink, k=3, n_probe=1, id_col="doc", id_type="string"
    )
    iprobe(queries, 0)
    ivf_index_step(ivf_store, centroids, id_col="doc")(corpus, 0)
    iprobe(queries, 1)
    assert schemas[0] == schemas[1]
    assert schemas[0]["doc"].dataType.typeName() == "string"


def test_lsh_probe_plan_broadcasts_queries(spark, tmp_path):
    """The probe join must broadcast the (small) query side against the
    (huge) index side — the refactor to lsh_index_frame/lsh_probe_topk
    must not drop the broadcast hint behind the renames."""
    from willa_spark.plans import physical_plan

    store = os.path.join(str(tmp_path), "store")
    batches, _ = _corpus_batches(spark)
    step = lsh_index_step(store, CFG)
    for i, b in enumerate(batches):
        step(b, i)
    idx = read_index(spark, store)
    topk = S.lsh_probe_topk(
        idx, _queries(spark), k=5,
        n_planes=CFG.n_planes, dim=CFG.dim, seed=CFG.seed,
        n_probes=1, n_tables=CFG.n_tables,
    )
    assert "BroadcastHashJoin" in physical_plan(topk)


def test_streaming_ivf_congruity(spark, tmp_path):
    """IVF twin of the LSH congruity: top-k served from the streamed-in
    inverted file equals batch ivf_topk over the full corpus under the
    same frozen centroids."""
    from willa_spark.streaming.ann import ivf_index_step, ivf_probe_step

    batches, full = _corpus_batches(spark)
    centroids = S.train_centroids(full, n_centroids=4, n_iters=1)
    store = os.path.join(str(tmp_path), "ivf-store")
    step = ivf_index_step(store, centroids)
    for i, b in enumerate(batches):
        step(b, i)

    queries = _queries(spark)
    got = []

    def sink(topk, _bid):
        got.extend(
            (r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
            for r in topk.collect()
        )

    ivf_probe_step(store, centroids, sink, k=5, n_probe=2)(queries, 0)
    want = sorted(
        (r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
        for r in S.ivf_topk(full, queries, centroids, k=5, n_probe=2).collect()
    )
    assert sorted(got) == want and len(got) > 0


def test_ivf_retrain_recovers_post_drift_recall(spark, tmp_path):
    """Generation-aware IVF lifecycle: stale bootstrap centroids make a
    drifted query probe the WRONG cell (true nearest neighbor missed at
    n_probe=1); ivf_retrain rebuilds the inverted file under centroids
    trained on the current corpus as a new generation and swaps the
    meta atomically — the same query then finds its neighbor at rank 1,
    the old generation stays on disk for uninterrupted serving until
    the swap, and post-swap batches (and their replays) append to the
    new generation idempotently."""
    from willa_spark.streaming.ann import (
        ivf_gen_index_step,
        ivf_gen_probe_step,
        ivf_retrain,
        ivf_store_meta,
        ivf_store_init,
    )
    from willa_spark.streaming.store import store_read

    mk = lambda rs: spark.createDataFrame(rs, "vec_id bigint, embedding array<double>")
    # drifted corpus: a cluster near (0.8, 0.6) plus two far fillers
    b0 = mk([(1, [0.8, 0.6]), (2, [-1.0, 0.0]), (3, [0.0, -1.0])])
    b1 = mk([(4, [0.79, 0.61]), (5, [0.81, 0.59])])
    queries = mk([(100, [0.6, 0.8])]).withColumnsRenamed(
        {"vec_id": "query_id", "embedding": "query_vec"}
    )

    root = os.path.join(str(tmp_path), "ivf-gens")
    # stale bootstrap quantizer from BEFORE the drift: axis-aligned
    ivf_store_init(root, [[1.0, 0.0], [0.0, 1.0]])
    index = ivf_gen_index_step(root)
    index(b0, 0)
    index(b1, 1)

    got = []
    sink = lambda topk, _bid: got.append(
        {r["vec_id"]: r["rank"] for r in topk.collect()}
    )
    probe = ivf_gen_probe_step(root, sink, k=2, n_probe=1)
    probe(queries, 0)
    # stale cells: query (0.6,0.8) probes the (0,1) cell, but its true
    # nearest neighbors (the 1/4/5 cluster) all sit in the (1,0) cell —
    # the whole cluster is missed
    assert not {1, 4, 5} & set(got[0])

    new_gen = ivf_retrain(spark, root, up_to_batch=2, n_centroids=2, n_iters=3)
    assert new_gen == 1 and ivf_store_meta(root)["generation"] == 1
    # old generation left intact (serving continuity until the swap)
    assert os.path.isdir(os.path.join(root, "gen=0"))
    assert store_read(spark, os.path.join(root, "gen=1")).count() == 5

    probe(queries, 1)
    # exact top-2 by cosine: 4 (0.9639) then 1 (0.96) — recall restored
    assert got[1] == {4: 1, 1: 2}

    # post-swap ingestion appends to the NEW generation; replay is
    # idempotent across the retrain boundary
    index(mk([(6, [0.6, 0.8])]), 2)
    n = store_read(spark, os.path.join(root, "gen=1")).count()
    index(mk([(6, [0.6, 0.8])]), 2)  # replay
    assert store_read(spark, os.path.join(root, "gen=1")).count() == n == 6
    probe(queries, 2)
    assert got[2][6] == 1  # exact self-match now dominates


def test_ann_index_store_compaction_preserves_probes(spark, tmp_path):
    """The ANN index stores get the same retention the dedup stores
    have: compact_every bounds the partition-directory count of a
    long-running index stream, the merge preserves the bucket
    clustering key, and probe top-k results are IDENTICAL before and
    after compaction (probes read the whole store; merged rows only
    change their committed label)."""
    from willa_spark.streaming.ann import (
        LshAnnConfig,
        lsh_index_step,
        lsh_probe_step,
    )
    from willa_spark.streaming.store import store_partitions

    vs = _vecs(12, 77)
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, vs[i]) for i in range(lo, hi)],
        "vec_id bigint, embedding array<double>",
    )
    cfg = LshAnnConfig(n_planes=4, dim=DIM, n_tables=2)
    store = os.path.join(str(tmp_path), "lsh-compact")
    index = lsh_index_step(store, cfg, compact_every=2)
    got = []
    probe = lsh_probe_step(
        store, lambda t, b: got.append(
            sorted((r["query_id"], r["vec_id"], r["rank"]) for r in t.collect())
        ), k=3, cfg=cfg,
    )
    q = spark.createDataFrame(
        [(100, vs[3]), (101, vs[9])], "query_id bigint, query_vec array<double>"
    )
    for bid, (lo, hi) in enumerate(((0, 4), (4, 8), (8, 12))):
        index(mk(lo, hi), bid)
    probe(q, 0)
    assert len(store_partitions(store)) == 2  # [compacted(0+1), 2]
    # one more batch: next compaction folds again at batch 4
    index(mk(0, 0), 3)
    index(mk(0, 0), 4)
    assert len(store_partitions(store)) <= 3
    probe(q, 1)
    # identical results across the compaction boundary (bucket
    # candidate counts per query are what they are — only equality
    # and non-vacuousness matter here)
    assert got[0] == got[1] and len(got[0]) >= 4


def test_ivf_drift_triggers_retrain_automatically(spark, tmp_path):
    """The drift POLICY on top of the r5 retrain mechanism: the index
    step measures each batch's mean distance-to-assigned-centroid via
    an Observation riding the append write (no extra pass), records
    the first batch as the baseline, leaves a well-clustered batch
    alone, and on a drifted batch invokes ivf_retrain by itself —
    after which a drifted query finds its true (drifted) nearest
    neighbor at rank 1 (the stale-quantizer mis-routing itself is
    pinned by test_ivf_retrain_recovers_post_drift_recall). The
    baseline recalibrates per generation (ivf_retrain stores the
    rebuilt corpus's mean under the new centroids)."""
    from willa_spark.streaming.ann import (
        ivf_drift_index_step,
        ivf_gen_probe_step,
        ivf_store_init,
        ivf_store_meta,
    )

    mk = lambda rs: spark.createDataFrame(rs, "vec_id bigint, embedding array<double>")
    root = os.path.join(str(tmp_path), "ivf-drift")
    ivf_store_init(root, [[1.0, 0.0], [0.0, 1.0]])
    step = ivf_drift_index_step(root, drift_ratio=1.5, n_centroids=2, n_iters=3)

    # batch 0: on-distribution (axis clusters) -> establishes baseline
    step(mk([(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.99, 0.01]), (3, [0.01, 0.99])]), 0)
    meta0 = ivf_store_meta(root)
    assert meta0["generation"] == 0 and meta0["ref_dist"] < 0.01

    # another on-distribution batch: NO retrain
    step(mk([(10, [0.98, 0.02]), (11, [0.02, 0.98])]), 1)
    assert ivf_store_meta(root)["generation"] == 0

    # drifted cluster arrives: mean dist ~0.2 >> 1.5*max(ref, 0.02)
    step(mk([(4, [0.8, 0.6]), (5, [0.79, 0.61])]), 2)
    assert ivf_store_meta(root)["generation"] == 1  # auto-retrained

    got = []
    sink = lambda topk, _bid: got.append(
        [r["vec_id"] for r in topk.orderBy("rank").collect()]
    )
    probe = ivf_gen_probe_step(root, sink, k=2, n_probe=1)

    # second drifted batch: the retrain it triggers now TRAINS on the
    # migrated drifted vectors (a streaming drift response is
    # necessarily one batch behind the onset)
    step(mk([(6, [0.81, 0.59]), (7, [0.79, 0.62])]), 3)
    meta = ivf_store_meta(root)
    assert meta["generation"] == 2
    assert meta["ref_dist"] is not None

    probe(queries_df(spark), 0)
    assert got[0][0] in {4, 5, 6, 7}  # true nearest neighbor is drifted


def queries_df(spark):
    # aligned with the DRIFT cluster: the retrained quantizer must
    # route it to the cell holding the drifted vectors
    return spark.createDataFrame(
        [(100, [0.79, 0.6])], "query_id bigint, query_vec array<double>"
    )


def test_ivf_retrain_migrates_concurrent_commits_and_guards_swap(spark, tmp_path):
    """Two index-during-retrain safeguards: (1) batches the index
    stream committed to the OLD generation at/after the retrain
    watermark are migrated into the new generation with cells
    recomputed under the new centroids — nothing committed is lost;
    (2) a batch whose append straddles the meta swap fails loud (the
    generation guard), so Structured Streaming replays it against the
    new generation instead of silently stranding its vectors."""
    import pytest

    from willa_spark.streaming import ann as ann_mod
    from willa_spark.streaming.ann import (
        ivf_gen_index_step,
        ivf_retrain,
        ivf_store_init,
        ivf_store_meta,
    )
    from willa_spark.streaming.store import store_read

    mk = lambda rs: spark.createDataFrame(rs, "vec_id bigint, embedding array<double>")
    vs = _vecs(12, 21)
    root = os.path.join(str(tmp_path), "ivf-mig")
    ivf_store_init(root, [[1.0] + [0.0] * (DIM - 1), [0.0, 1.0] + [0.0] * (DIM - 2)])
    index = ivf_gen_index_step(root)
    index(mk([(i, vs[i]) for i in range(4)]), 0)
    index(mk([(i, vs[i]) for i in range(4, 8)]), 1)
    # batch 2 commits to the old generation AFTER the watermark the
    # retrain will use (the index stream ran on during the rebuild)
    index(mk([(i, vs[i]) for i in range(8, 12)]), 2)

    ivf_retrain(spark, root, up_to_batch=2, n_centroids=2, n_iters=2)
    gen1 = os.path.join(root, "gen=1")
    assert store_read(spark, gen1).count() == 12  # 8 rebuilt + 4 migrated
    from willa_spark.streaming.store import store_partitions

    assert store_partitions(gen1) == [1, 2]  # rebuilt blob + migrated batch
    # migrated cells use the NEW quantizer: every cell id < n_centroids
    cells = {r["cell"] for r in store_read(spark, gen1).select("cell").collect()}
    assert cells <= {0, 1}
    # a replay of the migrated batch overwrites its own partition
    index(mk([(i, vs[i]) for i in range(8, 12)]), 2)
    assert store_read(spark, gen1).count() == 12

    # generation guard: a swap landing between a batch's meta read and
    # its append must fail the batch for replay
    real_append = ann_mod.store_append

    def swap_mid_batch(df, path, batch_id, **kw):
        real_append(df, path, batch_id, **kw)
        meta = ivf_store_meta(root)
        ann_mod._write_ivf_meta(root, meta["generation"] + 1, meta["centroids"])

    try:
        ann_mod.store_append = swap_mid_batch
        with pytest.raises(RuntimeError, match="generation changed"):
            index(mk([(100, vs[0])]), 3)
    finally:
        ann_mod.store_append = real_append


def test_streaming_embedding_dedup_congruity(spark, tmp_path):
    """Exact-copy vectors planted across and within micro-batches: the
    streaming first-seen policy equals the batch min-id canonical —
    including a transitive cross-batch chain — and a replayed batch
    admits the same set (store unchanged)."""
    from willa_spark.functions import dedup as D
    from willa_spark.streaming.ann import embedding_dedup_step

    vs = _vecs(12, 5)
    rows = [(i, vs[i]) for i in range(8)]
    # 8 copies 0 (cross-batch), 9 copies 0 again (transitive chain),
    # 10/11 duplicate each other within one batch
    rows += [(8, vs[0]), (9, vs[0]), (10, vs[11]), (11, vs[11])]
    mk = lambda rs: spark.createDataFrame(rs, "vec_id bigint, embedding array<double>")
    batches = [mk(rows[:4] + [rows[8]]), mk(rows[4:8] + [rows[9]]), mk(rows[10:12])]
    full = mk(rows)

    store = os.path.join(str(tmp_path), "emb-store")
    step = embedding_dedup_step(store, threshold=0.999, n_planes=4, dim=DIM, seed=3)
    admitted = []
    for i, b in enumerate(batches):
        admitted.extend(r["vec_id"] for r in step(b, i).collect())
    assert len(admitted) == len(set(admitted))

    pairs = S.embedding_near_dups(
        full, threshold=0.999, n_planes=4, dim=DIM, seed=3
    ).select("id_a", "id_b")
    kept = D.keep_canonical(full, D.dup_clusters(pairs), id_col="vec_id")
    want = {r["vec_id"] for r in kept.collect()}
    assert set(admitted) == want == {0, 1, 2, 3, 4, 5, 6, 7, 10}

    # replay the middle batch: same survivors, no duplicate admissions
    again = {r["vec_id"] for r in step(batches[1], 1).collect()}
    assert again == {r for r in admitted if r in {4, 5, 6, 7}} or again <= set(admitted)


def test_store_read_propagates_corrupt_store(spark, tmp_path):
    """A missing store reads as None, but a CORRUPT store must fail the
    micro-batch — serving silently-empty results would advance the
    checkpoint past wrong answers permanently."""
    import pytest

    from willa_spark.streaming.store import store_read

    assert store_read(spark, os.path.join(str(tmp_path), "nope")) is None
    bad = os.path.join(str(tmp_path), "corrupt")
    os.makedirs(bad)
    with open(os.path.join(bad, "part-00000.parquet"), "w") as f:
        f.write("this is not parquet")
    with pytest.raises(Exception):
        df = store_read(spark, bad)
        if df is not None:  # some failures surface only at action time
            df.collect()


def test_streaming_embedding_dedup_score_survivor(spark, tmp_path):
    """score= on the embedding dedup step: co-arriving duplicate
    vectors elect the highest-score member (not min-id); a
    better-scoring dup in a LATER batch is still dropped
    (first-seen-wins cross-batch — the near_dedup survivor-policy
    contract applies unchanged to the vector family)."""
    from pyspark.sql import functions as Fq
    from willa_spark.streaming.ann import embedding_dedup_step

    vs = _vecs(6, 5)
    # batch 0: 0/1 identical vectors, q 0.1 vs 0.9 -> 1 wins on score
    # batch 1: 5 copies 2 with a higher score -> still dropped
    b0 = [(0, vs[0], 0.1), (1, vs[0], 0.9), (2, vs[2], 0.3)]
    b1 = [(5, vs[2], 0.9), (4, vs[4], 0.5)]
    mk = lambda rs: spark.createDataFrame(
        rs, "vec_id bigint, embedding array<double>, q double"
    )
    store = os.path.join(str(tmp_path), "emb-score-store")
    step = embedding_dedup_step(
        store, threshold=0.999, n_planes=4, dim=DIM, seed=3, score=Fq.col("q")
    )
    got0 = {r["vec_id"] for r in step(mk(b0), 0).collect()}
    got1 = {r["vec_id"] for r in step(mk(b1), 1).collect()}
    assert got0 == {1, 2}
    assert got1 == {4}


def test_streaming_bm25_index_probe_congruity_and_replay(spark, tmp_path):
    """The retrieval twin of the ANN index/probe congruity: a corpus
    ingested across two micro-batches + a probe must equal the batch
    bm25_topk over the full corpus EXACTLY (the stats store keeps
    additive (n_docs, sum_dl) sums, so batching cannot skew N or
    avgdl); a probe before any ingest yields an empty frame with the
    topk schema; an index replay neither duplicates store rows nor
    changes the probe answer."""
    from pyspark.sql import functions as F

    from willa_spark.functions import retrieval as R
    from willa_spark.sources import read_table
    from willa_spark.streaming.retrieval import bm25_probe_step, postings_index_step

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    queries = docs.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.array_distinct(F.slice(toks, 1, 5)).alias("terms"),
    )
    store = os.path.join(str(tmp_path), "bm25-store")
    results: dict[int, list] = {}

    def sink(df, bid):
        results[bid] = sorted(tuple(r) for r in df.collect())

    probe = bm25_probe_step(store, sink, k=5)
    # probe before ingest: empty, schema intact
    probe(queries, 0)
    assert results[0] == []

    index = postings_index_step(store)
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    index(b1, 0)
    index(b2, 1)
    probe(queries, 1)
    want = sorted(tuple(r) for r in R.bm25_topk(docs, queries, k=5).collect())
    assert results[1] == want and want

    # index replay: same probe answer, no duplicated postings rows
    index(b2, 1)
    probe(queries, 2)
    assert results[2] == want
    post = spark.read.parquet(os.path.join(store, "postings"))
    assert post.count() == post.select("doc_id", "term").distinct().count()


def test_streaming_semantic_dedup_congruity(spark, tmp_path):
    """Streaming SemDeDup (cluster-blocked vector dedup through the
    shared _vectors + _cosine_pairs kernel): exact copies planted across and
    within micro-batches match the batch semantic_dedup_pairs +
    min-id canonical over the full corpus; replay is idempotent; the
    store lands sorted by cell."""
    from willa_spark.functions import dedup as D
    from willa_spark.streaming.ann import semantic_dedup_step

    vs = _vecs(12, 5)
    rows = [(i, vs[i]) for i in range(8)]
    rows += [(8, vs[0]), (9, vs[0]), (10, vs[11]), (11, vs[11])]
    mk = lambda rs: spark.createDataFrame(rs, "vec_id bigint, embedding array<double>")
    batches = [mk(rows[:4] + [rows[8]]), mk(rows[4:8] + [rows[9]]), mk(rows[10:12])]
    full = mk(rows)
    centroids = S.train_centroids(full, n_centroids=4, n_iters=2)

    store = os.path.join(str(tmp_path), "sem-store")
    step = semantic_dedup_step(store, centroids, threshold=0.999)
    admitted = []
    for i, b in enumerate(batches):
        admitted.extend(r["vec_id"] for r in step(b, i).collect())
    assert len(admitted) == len(set(admitted))

    pairs = S.semantic_dedup_pairs(full, centroids, threshold=0.999).select(
        "id_a", "id_b"
    )
    kept = D.keep_canonical(full, D.dup_clusters(pairs), id_col="vec_id")
    want = {r["vec_id"] for r in kept.collect()}
    assert set(admitted) == want

    again = {r["vec_id"] for r in step(batches[1], 1).collect()}
    assert again <= set(admitted)
    stored = spark.read.parquet(store)
    assert set(stored.columns) >= {"id", "vec", "cell"}
    assert stored.count() == len(admitted)


def test_vector_dedup_round_then_compare_boundary(spark, tmp_path):
    """Batch and streaming must share the ROUND-then-compare verify:
    a pair at true cosine 0.9499996 (rounds to 0.950000) sits exactly
    on the 0.95 boundary — the batch kernel reports it as a duplicate,
    so the streaming store kernel must drop it too (a raw-cosine
    streaming compare would admit both and silently diverge the two
    corpora forever). One centroid guarantees candidacy."""
    from willa_spark.streaming.ann import semantic_dedup_step

    c = 0.9499996
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [c, (1 - c * c) ** 0.5, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = [[1.0, 0.0, 0.0, 0.0]]
    got = [
        (r["id_a"], r["id_b"], r["cosine_sim"])
        for r in S.semantic_dedup_pairs(df, cents, threshold=0.95).collect()
    ]
    assert got == [(1, 2, 0.95)], got

    step = semantic_dedup_step(
        os.path.join(str(tmp_path), "bnd-store"), cents, threshold=0.95
    )
    admitted = {r["vec_id"] for r in step(df, 0).collect()}
    assert admitted == {1}, admitted


def test_streaming_hybrid_probe_congruity_and_degraded_modes(spark, tmp_path):
    """Hybrid RRF serving from the two persisted stores must equal the
    batch rrf_fuse over the same two rank lists computed on the full
    ingested corpus (both underlying servings are congruity-pinned
    already; the fusion is deterministic arithmetic). Degraded modes:
    BOTH stores empty -> typed empty frame; ONE store ingested -> the
    fusion runs on that system alone (n_systems == 1 everywhere)."""
    from pyspark.sql import functions as F

    from willa_spark.functions import retrieval as R
    from willa_spark.functions.similarity import lsh_topk
    from willa_spark.sources import read_table
    from willa_spark.streaming.ann import LshAnnConfig, lsh_index_step
    from willa_spark.streaming.retrieval import hybrid_probe_step, postings_index_step

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    queries = (
        docs.filter(F.col("doc_id") % 100 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.array_distinct(F.slice(toks, 1, 5)).alias("terms"),
        )
        .join(
            emb.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            ),
            "query_id",
        )
    )
    bm25_store = os.path.join(str(tmp_path), "hyb-bm25")
    ann_store = os.path.join(str(tmp_path), "hyb-ann")
    cfg = LshAnnConfig(n_planes=4, n_tables=8)
    results: dict[int, list] = {}

    def sink(df, bid):
        results[bid] = sorted(tuple(r) for r in df.collect())

    probe = hybrid_probe_step(bm25_store, ann_store, sink, k=5, ann_cfg=cfg)
    # both stores empty: typed empty frame
    probe(queries, 0)
    assert results[0] == []

    # ingest ONLY the lexical store: degraded single-system fusion
    index_lex = postings_index_step(bm25_store)
    index_lex(docs.filter(F.col("doc_id") % 2 == 0), 0)
    index_lex(docs.filter(F.col("doc_id") % 2 == 1), 1)
    probe(queries, 1)
    assert results[1] and all(r[4] == 1 for r in results[1])  # n_systems

    # ingest the ANN store too: full two-system fusion == batch fusion
    index_ann = lsh_index_step(ann_store, cfg)
    index_ann(emb.filter(F.col("vec_id") % 2 == 0), 0)
    index_ann(emb.filter(F.col("vec_id") % 2 == 1), 1)
    probe(queries, 2)
    lex = R.bm25_topk(docs, queries.select("query_id", "terms"), k=5)
    sem = lsh_topk(
        emb,
        queries.select("query_id", "query_vec"),
        k=5,
        n_planes=cfg.n_planes,
        n_tables=cfg.n_tables,
    ).select("query_id", F.col("vec_id").alias("doc_id"), "rank")
    want = sorted(
        tuple(r) for r in R.rrf_fuse([lex, sem], k=5).collect()
    )
    assert results[2] == want and want
    # some query must actually be served by BOTH systems or the
    # congruity proved nothing about the fusion
    assert any(r[4] == 2 for r in results[2])


def test_streaming_hybrid_probe_nondefault_query_id_col(spark, tmp_path):
    """Self-review regression: the lexical arm's output is always
    normalized to 'query_id' by the scoring kernel — a probe built
    with query_id_col='qid' must serve, not crash on an unresolved
    column."""
    from pyspark.sql import functions as F

    from willa_spark.sources import read_table
    from willa_spark.streaming.retrieval import hybrid_probe_step, postings_index_step

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    queries = docs.filter(F.col("doc_id") % 200 == 0).select(
        F.col("doc_id").alias("qid"),
        F.array_distinct(F.slice(toks, 1, 5)).alias("terms"),
        F.array([F.lit(0.0)] * 64).alias("query_vec"),
    )
    bm25_store = os.path.join(str(tmp_path), "nd-bm25")
    index = postings_index_step(bm25_store)
    index(docs, 0)
    results = {}

    def sink(df, bid):
        results[bid] = df.collect()

    probe = hybrid_probe_step(
        bm25_store,
        os.path.join(str(tmp_path), "nd-ann"),  # never ingested
        sink,
        k=5,
        query_id_col="qid",
    )
    probe(queries, 0)
    assert results[0] and all(r["n_systems"] == 1 for r in results[0])
