"""Similarity search over embedding columns (array<float>).

Two paths, per the standard ANN playbook:
- brute-force cosine top-k: exact baseline. The query side is tiny and
  broadcast; the corpus side never shuffles. Dot products are pure
  Column expressions (zip_with + aggregate) — JVM-side, no Python.
- LSH-bucketed (random hyperplane) ANN: sign-bit signature over h
  fixed pseudo-random hyperplanes → bucket equi-join; probes only
  matching buckets. The 100 TB path: candidate generation is an
  equi-join on a short bucket key.
- embedding-cosine near-dup: all-pairs ABOVE a bucket equi-join,
  verified exactly — mirrors dedup.minhash_candidate_pairs.

Hyperplanes are generated from a fixed seed so results are
deterministic and oracle-checkable.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..pin import pin
from ._fastlit import lit_double_rows, lit_doubles


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL (not an error, not NaN) when either
    vector has zero norm. Under Spark's default ANSI mode a plain
    division would FAIL THE JOB on the first zero vector a 100 TB
    corpus contains (DIVIDE_BY_ZERO); with ANSI off it would produce
    NaN, which silently poisons aggregates (NaN sorts above every
    similarity). NULL does the right thing in both: threshold filters
    reject it, rank windows sort it last, averages skip it.
    ``try_divide``, not ``nullif(denom, 0)``: nullif expands to a
    CASE WHEN that DUPLICATES the denominator — two extra 64-element
    aggregate trees per call site, which blows up the optimizer on
    multi-centroid expressions (driver OOM observed); try_divide
    evaluates each side once."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k per query vector. Queries are broadcast; the
    rank is a per-query-partition window (small: |queries| partitions of
    |corpus| rows → use only with a bounded query set; for bulk ANN use
    ``lsh_topk``). Deterministic tie-break by corpus id."""
    from pyspark.sql import Window as W

    c = corpus.select(F.col(id_col).alias("__cid"), _as_double(F.col(vec_col)).alias("__cv"))
    q = queries.select(
        F.col(query_id_col).alias("__qid"), _as_double(F.col(query_vec_col)).alias("__qv")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        F.col("__qid"),
        F.col("__cid"),
        F.round(cosine(F.col("__cv"), F.col("__qv")), 6).alias("__sim"),
    )
    w = W.partitionBy("__qid").orderBy(F.col("__sim").desc(), F.col("__cid").asc())
    return (
        scored.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= k)
        .select(
            F.col("__qid").alias(query_id_col),
            F.col("__cid").alias(id_col),
            F.col("__sim").alias("cosine_sim"),
            F.col("__rank").alias("rank"),
        )
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (Box-Muller from a
    seeded PRNG — plain Python, computed once on the driver)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature: bit i = 1 iff vec · plane_i >= 0. Returns a
    long (supports up to 63 planes)."""
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(dot(vec, plane) >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = sig + F.shiftleft(bit, i)
    return sig


def _probe_buckets(vec: Column, planes: list[list[float]], n_probes: int) -> Column:
    """Multi-probe bucket list: the base signature plus ``n_probes``
    variants with the LOWEST-confidence bits flipped (smallest
    |vec·plane| margin — the bits most likely to differ for a true
    neighbor). Pure Column expressions; the sort runs over an
    n_planes-element array per query row."""
    sig = lsh_signature(vec, planes)
    margins = F.array(
        *[
            F.struct(
                F.abs(dot(vec, F.array(*[F.lit(float(x)) for x in p]))).alias("m"),
                F.lit(i).alias("i"),
            )
            for i, p in enumerate(planes)
        ]
    )
    flips = F.slice(F.array_sort(margins), 1, n_probes).getField("i")
    # shiftleft needs a literal bit count — use a power-of-two lookup
    powers = F.array(*[F.lit(1 << b).cast("long") for b in range(len(planes))])
    return F.concat(
        F.array(sig),
        F.transform(flips, lambda i: sig.bitwiseXOR(F.element_at(powers, i + 1))),
    )


def _lsh_key_udfs(
    dim: int, n_planes: int, seed: int, n_tables: int, n_probes: int
):
    """Vectorized (corpus_keys, query_keys) pandas UDFs sharing one
    hyperplane matrix; factored out of ``lsh_topk`` so the streaming
    index (willa_spark.streaming.ann) derives byte-identical bucket
    keys from the same builders — congruity by construction."""
    import numpy as np
    import pandas as pd

    tables = [hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    mat = np.array([p for planes in tables for p in planes], dtype=np.float64)
    T, P, probes = n_tables, n_planes, n_probes
    pow2 = (1 << np.arange(P)).astype(np.int64)
    t_tags = (np.arange(T, dtype=np.int64) << 48)

    def _proj(ser):
        m = np.stack([np.asarray(v, dtype=np.float64) for v in ser])
        return (m @ mat.T).reshape(len(ser), T, P)

    def _corpus_keys(ser):
        proj = _proj(ser)
        buckets = ((proj >= 0) @ pow2).astype(np.int64)  # (n, T)
        return pd.Series(list(t_tags | buckets))

    def _query_keys(ser):
        proj = _proj(ser)
        buckets = ((proj >= 0) @ pow2).astype(np.int64)
        base = t_tags | buckets
        if probes <= 0:
            return pd.Series(list(base))
        # multi-probe: flip the lowest-|margin| signature bits — the
        # bits most likely to differ for a true neighbor
        order = np.argsort(np.abs(proj), axis=2)[:, :, :probes]  # (n, T, probes)
        flips = (np.int64(1) << order) ^ buckets[:, :, None]  # flipped buckets
        keys = np.concatenate([base[:, :, None], t_tags[None, :, None] | flips], axis=2)
        return pd.Series(list(keys.reshape(len(ser), -1)))

    # plain defs + explicit pandas_udf wrap (module uses `from
    # __future__ import annotations`, which makes type hints
    # unresolvable strings for UDF introspection)
    return (
        F.pandas_udf(_corpus_keys, "array<long>"),
        F.pandas_udf(_query_keys, "array<long>"),
    )


def lsh_index_frame(
    corpus: DataFrame,
    n_planes: int = 12,
    dim: int = 64,
    seed: int = 42,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The corpus side of the LSH join as a persistable index:
    ``(id, vec, bucket)`` with n_tables rows per vector, bucket = the
    packed (table << 48 | signature) key. This is exactly the frame
    ``lsh_topk`` joins against; the streaming ANN store persists it
    partitioned by ingest batch."""
    corpus_keys, _ = _lsh_key_udfs(dim, n_planes, seed, n_tables, 0)
    return corpus.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("vec")
    ).withColumn("bucket", F.explode(corpus_keys(F.col("vec"))))


def lsh_probe_topk(
    index: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 12,
    dim: int = 64,
    seed: int = 42,
    n_probes: int = 0,
    n_tables: int = 1,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Probe an ``lsh_index_frame``-shaped index (id, vec, bucket) with
    a query set: bucket equi-join (broadcast query side by default) +
    exact cosine rescoring + per-query rank. Parameters must match the
    ones the index was built with — the probe derives its keys from
    the same seeded hyperplane family. ``broadcast_queries=False``
    drops the broadcast hint for query batches too large to ship,
    turning the join into a shuffle join on ``bucket`` — which is
    exactly when a BUCKETED index (``save_lsh_index_bucketed``) pays
    off: the index side then needs no exchange at all."""
    from pyspark.sql import Window as W

    _, query_keys = _lsh_key_udfs(dim, n_planes, seed, n_tables, n_probes)
    q = queries.select(
        F.col(query_id_col).alias("__qid"), _as_double(F.col(query_vec_col)).alias("__qv")
    ).withColumn("__tb", F.explode(query_keys(F.col("__qv"))))
    scored = (
        index.withColumnsRenamed({"id": "__cid", "vec": "__cv", "bucket": "__tb"})
        .join(F.broadcast(q) if broadcast_queries else q, "__tb")
        .dropDuplicates(["__qid", "__cid"])
        .select(
            F.col("__qid"),
            F.col("__cid"),
            F.round(cosine(F.col("__cv"), F.col("__qv")), 6).alias("__sim"),
        )
    )
    w = W.partitionBy("__qid").orderBy(F.col("__sim").desc(), F.col("__cid").asc())
    return (
        scored.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= k)
        .select(
            F.col("__qid").alias(query_id_col),
            F.col("__cid").alias(id_col),
            F.col("__sim").alias("cosine_sim"),
            F.col("__rank").alias("rank"),
        )
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 12,
    dim: int = 64,
    seed: int = 42,
    n_probes: int = 0,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: exact rescoring restricted to the query's LSH
    bucket(s). With n_planes=p the corpus splits into ~2^p buckets →
    candidate set ~|corpus|/2^p per probe. Two recall knobs, both
    keeping candidate generation an equi-join on a short key (never
    all-pairs):
    - ``n_probes``: extra probes flipping the lowest-|margin| signature
      bits (multi-probe LSH) — cheap, helps near-duplicate queries;
    - ``n_tables``: independent hash tables (fresh hyperplanes per
      table, join key = (table, bucket)) — the standard recall lever
      when neighbors sit at moderate cosine, where any single
      signature likely differs in >1 bit. Corpus-side cost is
      n_tables bucket entries per vector (an explode, not a copy of
      the vector per se — the vector column rides along for rescoring,
      so size the table count to the memory budget at scale).

    Signatures and probe buckets are computed in ONE vectorized Arrow
    pass (a numpy (batch × dim) · (dim × tables·planes) matmul): the
    per-plane Column-expression dot products would codegen
    n_tables × n_planes separate 64-element aggregates, whose compile
    and eval cost scales with the expression count rather than the
    data — measured ~5× slower than the batched matmul even at tiny
    corpus sizes. Candidate generation (equi-join on the packed
    (table, bucket) key) and exact cosine rescoring stay JVM-side.

    Composed from ``lsh_index_frame`` + ``lsh_probe_topk`` — the same
    two halves the streaming ANN store persists and probes."""
    idx = lsh_index_frame(
        corpus,
        n_planes=n_planes,
        dim=dim,
        seed=seed,
        n_tables=n_tables,
        id_col=id_col,
        vec_col=vec_col,
    )
    return lsh_probe_topk(
        idx,
        queries,
        k=k,
        n_planes=n_planes,
        dim=dim,
        seed=seed,
        n_probes=n_probes,
        n_tables=n_tables,
        id_col=id_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    )


def _centroid_sims(vec: Column, centroids: list[list[float]]) -> Column:
    """Array of cosine(vec, centroid_i). Each dot product appears in
    the expression tree EXACTLY once — a chained when(best_sim...)
    formulation nests the previous best into every branch and doubles
    the tree per centroid (benchmarked 40s+ at sf0.1; this form is
    sub-second)."""
    vn = norm(vec)
    # centroids and their (Python-precomputed) norms enter as TWO
    # nested literals under one transform instead of C unrolled dot
    # expressions: bitwise-identical sims (same zip_with fold per
    # centroid, same vn*cn denominator), a C× smaller Column tree —
    # the unrolled form's per-centroid py4j HOF construction dominated
    # ivf/ivfpq wall time at small scale (the _l2_dists lesson).
    # try_divide: a zero-norm vector yields NULL sims (→ NULL cell
    # in ivf_assign, excluded from probes and drift averages)
    # instead of an ANSI DIVIDE_BY_ZERO job failure — and unlike
    # nullif it never duplicates the vn subtree (see cosine())
    if not centroids:
        # preserve the unrolled form's empty-sims path: F.array() →
        # array_max NULL → NULL cell (ivf_assign's documented
        # exclusion route for a corrupt/empty centroid store) — the
        # transform form would otherwise build sequence(0, -1) and an
        # invalid element_at(…, 0) runtime error
        return F.array().cast("array<double>")
    # both literals built via ONE expr parse each instead of
    # per-element py4j round trips (bit-identical values — _fastlit)
    cl = lit_double_rows(centroids)
    nl = lit_doubles(
        math.sqrt(sum(x * x for x in c)) or 1.0 for c in centroids
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
        lambda i: F.try_divide(
            dot(vec, F.element_at(cl, i + F.lit(1))),
            vn * F.element_at(nl, i + F.lit(1)),
        ),
    )


def ivf_assign(vec: Column, centroids: list[list[float]]) -> Column:
    """Index of the nearest centroid by cosine (deterministic tie-break:
    lowest index — array_position returns the first occurrence). A
    zero-norm vector has no direction and gets a NULL cell (its sims
    are all NULL): it joins no inverted list and no probe — excluded,
    not crashed on."""
    sims = _centroid_sims(vec, centroids)
    return (F.array_position(sims, F.array_max(sims)) - 1).cast("int")


def train_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic Lloyd's k-means for the IVF coarse quantizer:
    init = the n lowest-id vectors (seeded, reproducible), then
    ``n_iters`` rounds of assign (Column exprs) + recompute (groupBy
    avg — a partial aggregate, one small shuffle per round). Centroid
    count stays fixed: empty cells keep their previous centroid."""
    # pinned ONCE (the pq_train discipline): the frame feeds the init
    # collect plus n_iters assignment/means passes — unpinned, every
    # action re-ran the caller's upstream lineage (scan + any spread
    # repartition + the cast) once per Lloyd round
    c = pin(corpus.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    ))
    init_rows = c.orderBy("id").limit(n_centroids).collect()
    centroids = [list(r["v"]) for r in init_rows]
    dim = len(centroids[0])
    for _ in range(n_iters):
        assigned = c.withColumn("cid", ivf_assign(F.col("v"), centroids))
        # per-dimension means via posexplode: one narrow pass + one
        # partial-aggregated shuffle of (cell, dim) pairs — never 64
        # separate element-extraction aggregates
        means = (
            assigned.select("cid", F.posexplode(F.col("v")).alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new: dict[int, list[float]] = {}
        for r in means:
            new.setdefault(r["cid"], [0.0] * dim)[r["pos"]] = r["m"]
        centroids = [new.get(i, centroids[i]) for i in range(len(centroids))]
    return centroids


def ivf_index_frame(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The corpus side of the IVF join as a persistable inverted file:
    ``(id, vec, cell)``, cell = nearest-centroid id. Exactly the frame
    ``ivf_topk`` probes; the streaming IVF store persists it
    partitioned by ingest batch (centroids stay FROZEN across batches
    so cell ids remain comparable — retrain means rebuild)."""
    return corpus.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("vec")
    ).withColumn("cell", ivf_assign(F.col("vec"), centroids))


def ivf_probe_topk(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Probe an ``ivf_index_frame``-shaped index (id, vec, cell):
    each query's ``n_probe`` nearest cells equi-joined (broadcast query
    side by default), exact cosine rescore, per-query rank — the probe
    half of ``ivf_topk``, shared with the streaming IVF store.

    ``broadcast_queries=False`` drops the broadcast hint for query
    sets too large to ship to every executor: the join becomes a
    shuffle join on ``cell`` — which is exactly when a BUCKETED index
    (``save_ivf_index_bucketed``) pays off, since the index side then
    needs no exchange at all."""
    from pyspark.sql import Window as W

    c = index.withColumnsRenamed({"id": "__cid_id", "vec": "__cv", "cell": "__cell"})
    # per-query probe list: top n_probe centroids by cosine
    def probe_cells(qv: Column) -> Column:
        sims = F.array(
            *[
                F.struct(
                    cosine(qv, F.array(*[F.lit(float(x)) for x in cvec])).alias("s"),
                    F.lit(i).alias("i"),
                )
                for i, cvec in enumerate(centroids)
            ]
        )
        return F.slice(F.reverse(F.array_sort(sims)), 1, n_probe)

    q = queries.select(
        F.col(query_id_col).alias("__qid"), _as_double(F.col(query_vec_col)).alias("__qv")
    ).withColumn("__cell", F.explode(probe_cells(F.col("__qv")).getField("i")))
    q_side = F.broadcast(q) if broadcast_queries else q
    scored = c.join(q_side, "__cell").select(
        F.col("__qid"),
        F.col("__cid_id"),
        F.round(cosine(F.col("__cv"), F.col("__qv")), 6).alias("__sim"),
    )
    w = W.partitionBy("__qid").orderBy(F.col("__sim").desc(), F.col("__cid_id").asc())
    return (
        scored.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= k)
        .select(
            F.col("__qid").alias(query_id_col),
            F.col("__cid_id").alias(id_col),
            F.col("__sim").alias("cosine_sim"),
            F.col("__rank").alias("rank"),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are bucketed by nearest
    centroid (the inverted file); each query probes its ``n_probe``
    nearest cells and rescored exactly within them. Candidate
    generation is an equi-join on the small cell id — at 100 TB the
    inverted lists would be written bucketed-by-cell so the probe is a
    partition-pruned scan, no shuffle of the corpus. Composed from
    ``ivf_index_frame`` + ``ivf_probe_topk`` — the halves the
    streaming IVF store persists and probes."""
    return ivf_probe_topk(
        ivf_index_frame(corpus, centroids, id_col=id_col, vec_col=vec_col),
        queries,
        centroids,
        k=k,
        n_probe=n_probe,
        id_col=id_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    )


def embedding_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    spill_dir: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucket self-join for
    candidates (equi-join on bucket), exact cosine verification above
    threshold. Output: id_a, id_b, cosine_sim.

    The bucketed (id, vector, bucket) frame feeds BOTH sides of the
    self-join and Spark does not reuse subtrees across alias sides, so
    it must be materialized once. Default: executor-memory persist
    (right for bench-sized corpora). Pass ``spill_dir`` for the 100 TB
    path: the frame is written to storage once and both join sides
    scan the parquet — no corpus-size memory cache, and the scan
    prunes to the three needed columns."""
    planes = hyperplanes(dim, n_planes, seed)
    return _vector_near_dup_pairs(
        df,
        lambda v: lsh_signature(v, planes),
        threshold,
        id_col,
        vec_col,
        spill_dir,
    )


def _vector_near_dup_pairs(
    df: DataFrame,
    key_builder,
    threshold: float,
    id_col: str,
    vec_col: str,
    spill_dir: str | None,
) -> DataFrame:
    """The shared batch vector near-dup kernel (LSH-bucket and
    k-means-cell blocking differ ONLY in ``key_builder`` — the batch
    twin of ``streaming.ann._cosine_pairs``): keyed self-join
    candidates, exact cosine verify with the ROUND-then-compare
    predicate both engines share, materialize-once contract
    (persist, or ``spill_dir`` for the storage-backed path)."""
    v = df.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("__key", key_builder(F.col("v")))
    # EAGER: the self-join's two shuffle-map stages are submitted
    # concurrently within one action, so a lazy persist lets both
    # race-compute the key-builder projection before the cache fills
    # (the same duplication profiled on the minhash banded frame). The
    # checkpoint computes it once and releases on GC of the result — no
    # CacheManager entry outlives the call; ``spill_dir`` writes it to
    # storage instead.
    v = pin(v, spill_dir=spill_dir)
    l, r = v.alias("l"), v.alias("r")
    return (
        l.join(
            r,
            (F.col("l.__key") == F.col("r.__key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(cosine(F.col("l.v"), F.col("r.v")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def save_ivf_index_bucketed(
    corpus: DataFrame,
    centroids: list[list[float]],
    table: str,
    num_buckets: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the IVF inverted file hash-BUCKETED by cell — the
    100 TB serving layout (SCALING.md): a probe join keyed on ``cell``
    reads the bucketed table with NO exchange on the index side (only
    the query side shuffles to match the bucket count), and a
    same-bucketed second index co-locates for merge/compare jobs.
    Centroids stay frozen for the table's lifetime (cell ids are only
    comparable under the centroids that assigned them — retrain means
    rewrite, exactly the streaming store's generation rule)."""
    from ..operators.skew import write_bucketed

    write_bucketed(
        ivf_index_frame(corpus, centroids, id_col=id_col, vec_col=vec_col),
        table,
        "cell",
        num_buckets=num_buckets,
    )


def ivf_topk_bucketed(
    spark,
    table: str,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF top-k served from a ``save_ivf_index_bucketed`` table.
    Identical results to ``ivf_topk`` over the same corpus/centroids
    (pytest-pinned); the difference is purely physical — the inverted
    lists come off storage pre-partitioned by cell, so with
    ``broadcast_queries=False`` (big query batches) the index side
    joins with zero shuffle (pinned by a plan-shape test: ONE exchange
    on the join key, the query side's, instead of two)."""
    return ivf_probe_topk(
        spark.table(table),
        queries,
        centroids,
        k=k,
        n_probe=n_probe,
        id_col=id_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        broadcast_queries=broadcast_queries,
    )


def save_lsh_index_bucketed(
    corpus: DataFrame,
    table: str,
    num_buckets: int = 32,
    n_planes: int = 12,
    dim: int = 64,
    seed: int = 42,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the LSH index hash-bucketed by the packed
    (table, signature) ``bucket`` key — the serving layout twin of
    ``save_ivf_index_bucketed``. The hyperplane family is fully
    determined by (dim, n_planes, seed, n_tables); a probe MUST use
    the same parameters or its keys address a different family."""
    from ..operators.skew import write_bucketed

    write_bucketed(
        lsh_index_frame(
            corpus,
            n_planes=n_planes,
            dim=dim,
            seed=seed,
            n_tables=n_tables,
            id_col=id_col,
            vec_col=vec_col,
        ),
        table,
        "bucket",
        num_buckets=num_buckets,
    )


def lsh_topk_bucketed(
    spark,
    table: str,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 12,
    dim: int = 64,
    seed: int = 42,
    n_probes: int = 0,
    n_tables: int = 1,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    broadcast_queries: bool = True,
) -> DataFrame:
    """LSH top-k served from a ``save_lsh_index_bucketed`` table —
    identical results to ``lsh_topk`` built with the same parameters
    (pytest-pinned); with ``broadcast_queries=False`` the index side
    joins with zero shuffle, same plan-shape argument as
    ``ivf_topk_bucketed``."""
    return lsh_probe_topk(
        spark.table(table),
        queries,
        k=k,
        n_planes=n_planes,
        dim=dim,
        seed=seed,
        n_probes=n_probes,
        n_tables=n_tables,
        id_col=id_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        broadcast_queries=broadcast_queries,
    )


def semantic_dedup_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    spill_dir: str | None = None,
) -> DataFrame:
    """SemDeDup near-duplicate pairs (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication"): candidates are pairs sharing a k-means CELL
    (``ivf_assign`` — the coarse quantizer doubles as the blocking
    key), verified by exact cosine >= ``threshold``. Output:
    (id_a, id_b, cosine_sim) — feed ``dedup.dup_clusters`` +
    ``keep_canonical``/``keep_best`` like every pair family.

    The third embedding-dedup strategy beside the LSH-bucketed
    ``embedding_near_dups`` (hash blocking: probabilistic recall,
    corpus-independent buckets) and brute force: cluster blocking
    concentrates comparisons where the DATA is dense — the paper's
    point — at the documented SemDeDup tradeoff: a near-dup pair
    split across a cell boundary is invisible BY DESIGN (exact
    duplicates never split: identical vectors share an argmax;
    centroid count is the recall/cost dial, join volume ∝ Σ|cell|²).
    Zero-norm vectors take a NULL cell (``ivf_assign``) and join
    nothing — excluded, not crashed on.

    Same materialization contract as ``embedding_near_dups`` — both
    run through the shared ``_vector_near_dup_pairs`` kernel with
    only the blocking key swapped (the batch mirror of the streaming
    ``_vectors`` + ``_cosine_pairs`` factoring)."""
    return _vector_near_dup_pairs(
        df,
        lambda v: ivf_assign(v, centroids),
        threshold,
        id_col,
        vec_col,
        spill_dir,
    )
