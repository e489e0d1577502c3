"""Streaming BM25 — postings index maintenance + query serving, the
retrieval twin of the streaming ANN recipes (ann.py): a corpus stream
maintains a persisted postings store via foreachBatch, and a separate
query stream serves top-k from it.

Store layout (two coupled halves under ``store_dir``):

- ``postings/`` — the batch's (doc_id, term, tf, dl) rows, SORTED by
  term within each partition so row-group statistics prune probe scans
  on the queried terms (the same sort_by contract as the band/bucket
  stores), one ``ingest_batch=<id>`` partition per micro-batch;
- ``stats/`` — ONE (n_docs, sum_dl) row per batch. BM25's corpus
  statistics are sums, so the serving-time aggregate over this tiny
  store reconstructs the EXACT whole-corpus (N, avgdl) regardless of
  how ingestion was batched — no drift between streaming and batch
  statistics, unlike an approximated running average.

Index maintenance runs through the store lifecycle
(``store_step.py``), so the halves are compacted, NULL-id guarded and
appended in one order. Serving reads every batch both halves hold
(current-index semantics, exactly ``lsh_probe_step``); scoring and
ranking are the SAME kernels the batch operators use
(``functions.retrieval._score_postings`` / ``_rank_topk``), so
streaming results are congruent with ``bm25_topk`` over the ingested
corpus by construction — pinned by test. Replay-idempotent like every
store here: an index retry overwrites its own partition.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.retrieval import (
    _rank_topk,
    _score_postings,
    _toks,
    postings_frame,
)
from .store import store_partitions, store_read
from .store_step import Half, store_step


def postings_index_step(
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step maintaining the persisted postings index.
    Wire as

        corpus.writeStream.foreachBatch(postings_index_step(store))
              .option("checkpointLocation", chk).start()

    ``compact_every=N`` applies the store retention cadence to both
    halves (term-clustered postings merges keep row-group pruning
    alive; the stats half merges its 1-row partitions). The halves are
    coupled: a store holding postings but no stats below the batch
    fails loud (stats without postings is a run of token-less
    batches)."""

    def frames(batch_df: DataFrame) -> tuple[DataFrame, DataFrame]:
        stats = batch_df.select(
            F.size(_toks(F.col(text_col))).alias("__dl")
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("__dl"), F.lit(0)).cast("bigint").alias("sum_dl"),
        )
        return postings_frame(batch_df, id_col, text_col), stats

    return store_step(
        "postings_index_step",
        store_dir,
        [
            # a batch with no tokens (empty, or all-NULL text) may leave
            # no postings partition; stats, appended last, gets a row
            # every batch, so it may hold data postings lacks, never the
            # reverse
            Half("postings", "term", optional=True),
            Half("stats", rows=lambda _post, stats: stats, max_files=1),
        ],
        frames,
        id_col=id_col,
        compact_every=compact_every,
    )


def bm25_probe_step(
    store_dir: str,
    sink: Callable[[DataFrame, int], None],
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    query_id_type: str = "bigint",
    doc_id_type: str = "bigint",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step serving BM25 queries from the persisted
    postings store: each query micro-batch's top-k frame (query_id,
    doc_id, rank, score — the ``bm25_topk`` schema) is handed to
    ``sink``. A query batch arriving before any corpus was ingested
    yields an empty result frame (schema intact), not an error."""
    def step(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        topk = bm25_topk_from_store(
            spark, store_dir, batch_df, k, k1, b, query_id_col, terms_col
        )
        if topk is None:
            topk = spark.createDataFrame(
                [],
                f"query_id {query_id_type}, doc_id {doc_id_type}, "
                "rank int, score double",
            )
        sink(topk, batch_id)

    return step


def bm25_topk_from_store(
    spark,
    store_dir: str,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    terms_col: str = "terms",
) -> DataFrame | None:
    """The store-serving RANKER shared by ``bm25_probe_step`` and the
    hybrid probe: top-k over the whole current postings store, or None
    iff nothing was ingested yet (callers pick their empty-frame
    semantics — the solo probe synthesizes a typed empty frame, the
    hybrid probe degrades to the systems that have state).

    Both halves are read at one batch set: up to the newest ``stats``
    partition. The stats half is appended last and gets a row every
    batch, so a postings partition above it is a batch
    whose index step crashed between the two appends — scoring its
    postings against the older statistics would serve a ranking that
    matches no ingested prefix."""
    stats_dir = os.path.join(store_dir, "stats")
    committed = store_partitions(stats_dir)
    upto = committed[-1] + 1 if committed else 0
    post = store_read(spark, os.path.join(store_dir, "postings"), before_batch=upto)
    st = store_read(spark, stats_dir, before_batch=upto)
    if post is None or st is None:
        return None
    # the EXACT corpus statistics from the per-batch sums — BM25's
    # N and avgdl are additive, so batching cannot skew them
    stats = st.agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        (F.sum("sum_dl") / F.sum("n_docs")).alias("avgdl"),
    )
    return _rank_topk(
        _score_postings(post, stats, queries, k1, b, query_id_col, terms_col),
        k,
    )


def hybrid_probe_step(
    bm25_store_dir: str,
    ann_store_dir: str,
    sink: Callable[[DataFrame, int], None],
    k: int = 5,
    k_pool: int | None = None,
    k_rrf: float = 60.0,
    k1: float = 1.2,
    b: float = 0.75,
    ann_cfg=None,
    n_probes: int = 0,
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    query_vec_col: str = "query_vec",
    query_id_type: str = "bigint",
    doc_id_type: str = "bigint",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step serving HYBRID retrieval from two persisted
    stores: each query micro-batch (query_id, terms, query_vec) is
    ranked against the BM25 postings store AND the LSH ANN index, and
    the rank lists are fused by reciprocal-rank fusion
    (``functions.retrieval.rrf_fuse`` — only ranks cross the system
    boundary, so the stores never need score calibration against each
    other). Results carry the ``rrf_fuse`` schema (query_id, doc_id,
    rank, rrf_score, n_systems).

    Degraded mode is explicit and monotone: a store with no ingested
    state contributes no rank list (n_systems reflects it) rather than
    erroring or blanking the other system; BOTH stores empty yields a
    typed empty frame. The ANN side requires the index stream's own
    ``LshAnnConfig`` (the no-drift rule: probe keys must come from the
    index's hyperplane family)."""
    from .ann import LshAnnConfig, lsh_probe_topk, read_index
    from ..functions.retrieval import rrf_fuse

    cfg = ann_cfg if ann_cfg is not None else LshAnnConfig()
    pool = k_pool or k

    def step(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        rankings = []
        lex = bm25_topk_from_store(
            spark, bm25_store_dir, batch_df, pool, k1, b, query_id_col, terms_col
        )
        if lex is not None:
            # _score_postings already normalizes the query column to
            # "query_id" whatever query_id_col was — select it by that
            # name (selecting query_id_col here would crash non-default
            # callers; caught in self-review)
            rankings.append(lex.select("query_id", "doc_id", "rank"))
        idx = read_index(spark, ann_store_dir)
        if idx is not None:
            sem = lsh_probe_topk(
                idx,
                batch_df,
                k=pool,
                n_planes=cfg.n_planes,
                dim=cfg.dim,
                seed=cfg.seed,
                n_probes=n_probes,
                n_tables=cfg.n_tables,
                id_col=cfg.id_col,
                query_id_col=query_id_col,
                query_vec_col=query_vec_col,
            )
            rankings.append(
                sem.select(
                    F.col(query_id_col).alias("query_id"),
                    F.col(cfg.id_col).alias("doc_id"),
                    "rank",
                )
            )
        if not rankings:
            sink(
                spark.createDataFrame(
                    [],
                    f"query_id {query_id_type}, doc_id {doc_id_type}, "
                    "rank int, rrf_score double, n_systems bigint",
                ),
                batch_id,
            )
            return
        sink(rrf_fuse(rankings, k_rrf=k_rrf, k=k), batch_id)

    return step
