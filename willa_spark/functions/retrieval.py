"""Sparse lexical retrieval (TF-IDF/BM25) over the documents table —
the text-side counterpart of the embedding ANN family. A training-data
pipeline uses this for retrieval-based decontamination (find training
docs lexically close to an eval item), quality curation against a seed
corpus (DSIR-style importance sampling needs exactly these term
statistics), and near-dup triage where hashing families are too coarse.

Everything is DataFrame-native: a postings frame (the inverted index as
rows), document-frequency and length statistics as aggregates, and
scoring as a broadcast-pruned join — the classic "small query set
against a huge corpus" shape:

- postings build: tokenize → explode → one (doc, term) partial-agg
  shuffle. At 100 TB this is the same volume as every other
  explode-based family here (line_dedup, decontaminate n-grams).
- scoring: the postings are SEMI-JOINED against the (tiny, broadcast)
  query-term set FIRST, so only rows for queried terms ever reach the
  join — corpus-size-independent score volume, the inverted-index
  access pattern expressed relationally. Catalyst broadcasts the term
  set; per-term document frequency is computed from the pruned rows
  (df is per-term, so pruning does not change it).
- corpus stats (N, avgdl) ride a broadcast 1-row frame — no driver
  collect in the plan.

BM25 (Robertson-Spärck Jones, the "plus one" smooth idf used by
Lucene): idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)),
score(q,d) = Σ_t∈q idf(t) · tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)).
Query term multiplicity is ignored (terms are a set), the standard
short-query treatment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _toks(text_col):
    return F.split(F.lower(F.trim(text_col)), r"\s+")


def postings_frame(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The inverted index as rows: (doc_id, term, tf, dl) — term
    frequency and the document's token length on every posting (dl
    rides along so scoring needs no second join against a lengths
    table). One explode + one (doc, term) partial-agg shuffle."""
    toks = df.select(
        F.col(id_col).alias("doc_id"), _toks(F.col(text_col)).alias("__t")
    ).select("doc_id", F.size("__t").alias("dl"), F.explode("__t").alias("term"))
    return toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )


def corpus_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One-row frame (n_docs, avgdl) — broadcast into the scoring plan
    instead of collected to the driver."""
    return df.select(
        F.col(id_col).alias("doc_id"), F.size(_toks(F.col(text_col))).alias("dl")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )


def _score_postings(
    post: DataFrame,
    stats: DataFrame,
    queries: DataFrame,
    k1: float,
    b: float,
    query_id_col: str,
    terms_col: str,
    materialize_pruned: bool = False,
) -> DataFrame:
    """The scoring KERNEL shared by the on-the-fly path (bm25_scores)
    and the bucketed serving path (bm25_topk_indexed): (doc_id, term,
    tf, dl) postings × 1-row (n_docs, avgdl) stats × (query_id, terms)
    queries → (query_id, doc_id, score). Every query-side operand is
    broadcast (the term set, the exploded query terms, the per-term df,
    the stats row), so the index side never shuffles for a join; the
    ONLY possible index-side exchange is the per-term df aggregation —
    which a term-bucketed postings table satisfies from storage.

    The pruned postings feed TWO subtrees (the df aggregation and the
    scoring join), and Spark does not reuse subtrees — measured: zero
    ReusedExchange, the corpus explode ran in both. The on-the-fly
    path therefore passes ``materialize_pruned=True`` (eager persist +
    count, the ``verified_near_dups`` pattern — and its CACHING NOTE:
    the entry outlives the call; loop callers release via
    ``spark.catalog.clearCache()``). The SERVED path leaves it False
    on purpose: its postings come off a bucketed table whose second
    scan is row-group-pruned storage IO, and caching would trade the
    plan-pinned zero-exchange bucketed distribution for an in-memory
    relation."""
    qt = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(F.col(terms_col))).alias("term"),
    )
    terms = qt.select("term").distinct()
    pruned = post.join(F.broadcast(terms), "term", "left_semi")
    if materialize_pruned:
        pruned = pruned.persist()
        pruned.count()
    # per-term document frequency over the pruned rows (df is a
    # per-term count, unchanged by pruning to that term)
    dfreq = pruned.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    scored = (
        F.broadcast(qt)
        .join(pruned, "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df_t") + F.lit(0.5))
                / (F.col("df_t") + F.lit(0.5))
            ),
        )
        .withColumn(
            "__w",
            F.col("__idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return scored.groupBy("query_id", "doc_id").agg(F.sum("__w").alias("score"))


def _rank_topk(scores: DataFrame, k: int) -> DataFrame:
    """Deterministic top-k: scores ROUNDED to 6 decimals BEFORE ranking
    with a doc_id tie-break, so the ranking reproduces across engines
    (double summation order differs between engines only in the last
    ulps — far below the rounding grain)."""
    from pyspark.sql.window import Window

    s = scores.withColumn("score", F.round(F.col("score"), 6))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        s.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", "score")
    )


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
) -> DataFrame:
    """(query_id, doc_id, score) for every document sharing >= 1 term
    with the query. ``queries`` is (query_id, terms array<string>);
    term multiplicity is ignored. The postings frame is pruned to the
    queried terms via a broadcast semi-join BEFORE any scoring work —
    at 100 TB the score volume is (queried-term postings), not the
    corpus."""
    return _score_postings(
        postings_frame(docs, id_col, text_col),
        corpus_stats(docs, id_col, text_col),
        queries,
        k1,
        b,
        query_id_col,
        terms_col,
        materialize_pruned=True,
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
) -> DataFrame:
    """Top-k (query_id, doc_id, rank, score) per query — scores rounded
    to 6 decimals before ranking with a doc_id tie-break (see
    ``_rank_topk``), the same determinism rule the float oracles use."""
    return _rank_topk(
        bm25_scores(docs, queries, k1, b, id_col, text_col, query_id_col, terms_col),
        k,
    )


def save_postings_bucketed(
    docs: DataFrame,
    table: str,
    num_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist the inverted index hash-BUCKETED by term — the 100 TB
    serving layout, the retrieval twin of a bucketed ``ivf_index_frame``
    (similarity.py): a term-keyed probe reads the bucketed table with
    NO exchange on the index side, and the per-term df aggregation is
    satisfied from storage too (bucketing + per-bucket sort on the
    grouping key). Corpus statistics (n_docs, avgdl) land beside it as
    ``<table>_stats`` (1 row) — they are index-build-time facts, like
    IVF centroids. STORE CONTRACT: the tokenization and the
    (tf, dl) definitions are part of the table's identity — changing
    them means rebuilding, the ANN stores' generation rule."""
    from ..operators.skew import write_bucketed

    write_bucketed(
        postings_frame(docs, id_col, text_col), table, "term",
        num_buckets=num_buckets,
    )
    corpus_stats(docs, id_col, text_col).write.mode("overwrite").saveAsTable(
        table + "_stats"
    )


def bm25_topk_indexed(
    spark,
    table: str,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    terms_col: str = "terms",
) -> DataFrame:
    """BM25 top-k served from a ``save_postings_bucketed`` table.
    Identical results to ``bm25_topk`` over the same corpus
    (pytest-pinned); the difference is purely physical — postings come
    off storage pre-partitioned (and pre-sorted) by term, so the
    index side runs with ZERO exchanges: every query-side operand
    broadcasts and the df aggregation is satisfied by the bucketed
    layout (plan-pinned)."""
    return _rank_topk(
        _score_postings(
            spark.table(table),
            spark.table(table + "_stats"),
            queries,
            k1,
            b,
            query_id_col,
            terms_col,
        ),
        k,
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k_rrf: float = 60.0,
    k: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009)
    of N ranked lists: rrf(d) = Σ_s 1/(k_rrf + rank_s(d)) over the
    systems s that returned d, re-ranked descending. The standard way
    to combine lexical (BM25) and semantic (embedding ANN) retrieval
    without score calibration — only RANKS cross the system boundary,
    so BM25's unbounded scores and cosine's [-1, 1] never need to be
    commensurated. k_rrf=60 is the paper's constant.

    Inputs are (query_id, <id_col>, rank) frames — exactly what
    ``bm25_topk`` / ``bm25_topk_indexed`` / ``brute_force_topk`` /
    ``lsh_topk`` / ``ivf_topk`` emit — so any mix of on-the-fly and
    index-served retrieval fuses directly. Returns (query_id, doc_id,
    rank, rrf_score, n_systems), top-k per query when ``k`` is given.

    Scale shape: fusion touches only |queries| x k x n_systems rows —
    POST-retrieval volume, independent of corpus size — in one tiny
    (query_id, doc_id) partial-agg shuffle; all the corpus-bound work
    stays inside the underlying retrieval families. Determinism (the
    cross-engine hashing rule): the input ranks are already integer
    and deterministic (each family rounds scores to 6dp BEFORE its
    row_number with an id tie-break), the fused score is a sum of
    ≤ n_systems exact reciprocals rounded to 6dp before the final
    row_number, ties broken by doc_id."""
    from functools import reduce

    from pyspark.sql.window import Window

    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking frame")
    parts = [
        r.select(
            F.col("query_id"),
            F.col(id_col).alias("doc_id"),
            F.col("rank").cast("long").alias("rank"),
        )
        for r in rankings
    ]
    fused = (
        reduce(DataFrame.unionByName, parts)
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(
                F.sum(F.lit(1.0) / (F.lit(float(k_rrf)) + F.col("rank"))), 6
            ).alias("rrf_score"),
            F.count(F.lit(1)).cast("long").alias("n_systems"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    )
    out = fused.withColumn("rank", F.row_number().over(w))
    if k is not None:
        out = out.filter(F.col("rank") <= k)
    return out.select("query_id", "doc_id", "rank", "rrf_score", "n_systems")


def hybrid_topk(
    docs: DataFrame,
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k_pool: int | None = None,
    k_rrf: float = 60.0,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid lexical+semantic retrieval: BM25 top-``k_pool`` and exact
    cosine top-``k_pool`` per query, RRF-fused to top-``k``. ``queries``
    carries (query_id, terms array<string>, query_vec array<float>);
    ``emb``'s ``vec_id`` identifies the same documents as ``docs``'s
    ``doc_id``. The exact-cosine side is the bounded-query-set baseline
    (brute_force_topk's own contract) — for bulk query sets fuse
    ``lsh_topk`` / ``ivf_topk`` / ``bm25_topk_indexed`` frames straight
    into ``rrf_fuse``; the fusion is family-agnostic by design."""
    from .similarity import brute_force_topk

    pool = k_pool or k
    lex = bm25_topk(
        docs,
        queries.select("query_id", "terms"),
        k=pool,
        k1=k1,
        b=b,
        id_col=id_col,
        text_col=text_col,
    )
    sem = brute_force_topk(
        emb,
        queries.select("query_id", "query_vec"),
        k=pool,
        id_col=vec_id_col,
        vec_col=vec_col,
    ).select("query_id", F.col(vec_id_col).alias("doc_id"), "rank")
    return rrf_fuse([lex, sem], k_rrf=k_rrf, k=k)
