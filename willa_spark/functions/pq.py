"""Product quantization for embedding search (Jégou et al. 2011) —
the memory-bound ANN path: vectors compress to ``m`` one-byte-ish
codes (64-dim float32 → 8 codes is 32× smaller), and candidate
scoring becomes table lookups instead of vector arithmetic. At 100 TB
this is the difference between an embedding index that fits the
cluster's memory/IO budget and one that doesn't; IVF (similarity.py)
composes with it naturally (IVF prunes candidates, PQ prices each
candidate at m lookups).

Spark-first shape:

- Training (``pq_train``): per-subspace L2 k-means over the SLICED
  corpus — the same bounded-collect Lloyd's loop as
  ``train_centroids`` (assign via Column exprs, recompute via one
  (cell, dim) partial-agg shuffle per round, ONE small collect per
  round), run once per subspace. Codebooks return as driver-side
  config, the centroid rule.
- Encoding (``pq_encode``): pure JVM Column argmin per subspace over
  literal codebooks; each subspace slice is lambda-BOUND so the k
  distance expressions share one evaluation (the interpreted-lambda
  re-evaluation lesson from the audio family, multimodal.py).
- Search (``pq_topk``): asymmetric distance computation — each
  (broadcast) query precomputes m lookup tables (k distances from its
  j-th slice to codebook j, again lambda-bound); a corpus code then
  costs m ``element_at`` lookups summed by one linear fold. No vector
  math touches the corpus side at query time. Optional exact
  refinement rescores the top ``refine`` ADC candidates against the
  raw vectors IN THE INDEX'S OWN METRIC — true cosine in the default
  ``normalize=True`` regime, exact squared L2 when ``normalize=False``
  (off the unit sphere the two rank differently; the refine stage
  never switches metrics mid-pipeline) — the only stage that reads
  raw vectors, sized refine × |queries|.
- SERVING: flat ``pq_topk`` scans |corpus| × |queries| ADC rows — for
  bounded query sets and re-ranking only; ``ivfpq_topk`` (probed
  cells' codes only) is the bulk-serving path.

Determinism: training init is the lowest-id vectors (seeded like the
IVF quantizer), assignment tie-break is first-index
(``array_position``), ADC distances round to 6dp before ranking with
an id tie-break. NULL-vector rows get NULL codes and are EXCLUDED
from search results (filtered, not ranked — an unfiltered NULL
distance would sort FIRST under Spark's nulls-first ascending order).

STORE CONTRACT: codebooks are part of any persisted code frame's
identity (the IVF generation rule) — re-training means re-encoding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..pin import pin
from ._fastlit import lit_double_cube, lit_double_rows
from .multimodal import _bound
from .similarity import _as_double, cosine, norm


def _geometry(codebooks) -> tuple[int, int]:
    """(m, sub) of a trained codebook set, validated: pq_train
    guarantees k >= 1, but pq_encode/pq_assign_code/pq_topk/
    ivfpq_topk are public API taking caller-supplied codebooks — a
    degenerate set must fail with the contract, not a bare IndexError
    at codebooks[0][0] (r15 advice: the unrolled _l2_dists form had an
    explicit empty-distances route; this is its fused-form
    replacement)."""
    if not codebooks or not codebooks[0] or not codebooks[0][0]:
        raise ValueError(
            "empty codebooks (need >= 1 subspace with >= 1 centroid "
            "of >= 1 dim); degenerate codebooks cannot assign codes"
        )
    return len(codebooks), len(codebooks[0][0])


def _subspace_map(vec: Column, codebooks, inner=None) -> Column:
    """``transform(sequence(0, m-1), j -> inner(dists_j))`` where
    ``dists_j`` is the j-th slice's per-centroid squared-L2 array
    against ``codebooks[j]`` — the SAME per-element arithmetic as the
    unrolled ``F.array(*[_l2_dists(slice_j, cb_j) …])`` form (slice
    bound once per subspace, one zip_with/aggregate fold per centroid,
    codebook order preserved), but built as ONE Python expression tree
    over ONE 3-level literal instead of m trees: the unrolled form's
    ~m×40 ms of py4j lambda/HOF construction per call site dominated
    the PQ rows' driver time (r15 profile: 10k py4j round trips per
    ivfpq build). ``inner`` (e.g. the argmin) is lambda-BOUND over the
    distance array exactly as the unrolled form bound it."""
    m, sub = _geometry(codebooks)
    cb3 = lit_double_cube(codebooks)

    def dists(j):
        return _bound(
            F.slice(vec, j * F.lit(sub) + F.lit(1), F.lit(sub)),
            lambda s: F.transform(
                F.element_at(cb3, j + F.lit(1)),
                lambda c: F.aggregate(
                    F.zip_with(s, c, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, d: acc + d,
                ),
            ),
        )

    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        (lambda j: _bound(dists(j), inner)) if inner else dists,
    )


def _unit(vec: Column) -> Column:
    """Unit-normalized copy (the norm is lambda-bound, evaluated once
    per row); a zero-norm (or NULL) vector becomes a NULL ARRAY — not
    an array of NULL elements, which would slip past isNotNull filters
    and poison lowest-id training init with None coordinates."""
    return _bound(
        norm(vec),
        lambda n: F.when(n > 0, F.transform(vec, lambda x: x / n)),
    )


def _dim_guarded(vec: Column, m: int, sub: int) -> Column:
    """Fail LOUD in-plan when a non-NULL vector's length disagrees
    with the trained m*sub geometry — F.slice would otherwise silently
    truncate a longer vector to its prefix and return confidently
    wrong neighbors (worse under normalize=True, where the norm uses
    ALL dims while the slices read the prefix). NULL vectors pass
    through to the NULL-exclusion path."""
    want = m * sub
    return F.when(
        vec.isNull() | (F.size(vec) == want), vec
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"pq: vector length != trained geometry {want}: got "),
                F.size(vec).cast("string"),
            )
        ).cast("array<double>")
    )


def _subspace_geometry(dim: int, m: int) -> int:
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    return dim // m


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> list[list[list[float]]]:
    """Train ``m`` per-subspace codebooks of ``k`` centroids each
    (L2 Lloyd's, deterministic lowest-id init, empty cells keep their
    previous centroid). Returns driver-side config shaped
    ``codebooks[j][c][d]``.

    ``normalize=True`` (default) trains on UNIT vectors so ADC's L2
    is rank-compatible with the cosine every other family here uses
    (||a−b||² = 2 − 2·cos on the unit sphere); raw-L2 callers pass
    False. The flag is part of the codebook's STORE identity — train,
    encode, and probe must agree."""
    v0 = _as_double(F.col(vec_col))
    # pinned ONCE: the frame feeds the init collect plus m*n_iters
    # assignment/means passes — unpinned, every action would re-run
    # the normalization fold and the caller's upstream lineage (the
    # dsir_score_step frozen-frame discipline)
    c = pin(
        corpus.select(
            F.col(id_col).alias("id"),
            (_unit(v0) if normalize else v0).alias("v"),
        )
        .filter(F.col("v").isNotNull())
    )
    init_rows = c.orderBy("id").limit(k).collect()
    if not init_rows:
        raise ValueError("pq_train: empty corpus")
    if len(init_rows) < k:
        raise ValueError(f"pq_train: k={k} exceeds corpus size {len(init_rows)}")
    dim = len(init_rows[0]["v"])
    sub = _subspace_geometry(dim, m)
    # ALL m subspaces train in lockstep — subspace Lloyd rounds are
    # independent, so fusing them costs nothing in semantics (same
    # init, same first-index tie-break, same per-(subspace, cell, pos)
    # means, empty cells keep their previous centroid) and collapses
    # m assignment/means jobs per round into ONE corpus pass + ONE
    # m*k*sub-row collect — at 100 TB that is 1 scan per round instead
    # of m, and at test scale it removes the job-dispatch wall the
    # r10 PRICE NOTE measured (the per-subspace loop was ~m× this).
    codebooks: list[list[list[float]]] = [
        [list(r["v"])[j * sub : (j + 1) * sub] for r in init_rows]
        for j in range(m)
    ]
    for _ in range(n_iters):
        # ONE fused tree per round (same arithmetic as the m unrolled
        # argmin trees — see _subspace_map)
        cids = _subspace_map(
            F.col("v"),
            codebooks,
            lambda d: (F.array_position(d, F.array_min(d)) - 1).cast("int"),
        )
        # cids staged BEFORE the explode so the m argmins run once per
        # vector, not once per exploded element (Generate blocks
        # CollapseProject from re-inlining them)
        assigned = c.select(F.col("v"), cids.alias("__cids"))
        means = (
            assigned.select("__cids", F.posexplode("v").alias("gp", "x"))
            .select(
                (F.col("gp") / sub).cast("int").alias("j"),
                (F.col("gp") % sub).cast("int").alias("pos"),
                F.element_at(
                    "__cids", (F.col("gp") / sub).cast("int") + F.lit(1)
                ).alias("cid"),
                "x",
            )
            .groupBy("j", "cid", "pos")
            .agg(F.avg("x").alias("mean"))
            .collect()
        )
        new = [[list(codebooks[j][i]) for i in range(k)] for j in range(m)]
        for r in means:
            # NULL cid = a vector with a NULL element in this subspace
            # (NULL distances → NULL argmin); the per-subspace loop
            # discarded those via its dict's None key — same here
            # (r11 review: the fused rebuild crashed on the None index)
            if r["cid"] is None:
                continue
            new[r["j"]][r["cid"]][r["pos"]] = r["mean"]
        codebooks = new
    return codebooks


def pq_assign_code(vec: Column, codebooks: list[list[list[float]]]) -> Column:
    """array<int> of ``m`` nearest-centroid indices (first-index
    tie-break); a NULL vector yields NULL code ELEMENTS, whose NULL
    ADC distance the search filters out."""
    return _subspace_map(
        vec,
        codebooks,
        lambda d: (F.array_position(d, F.array_min(d)) - 1).cast("int"),
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """(id, codes array<int>) — the persistable compressed index (m
    ints per vector instead of dim floats). ``normalize`` must match
    the training flag (store contract)."""
    m, sub = _geometry(codebooks)
    v0 = _dim_guarded(_as_double(F.col(vec_col)), m, sub)
    # staged projection: the (possibly normalized) vector lands in its
    # own column BEFORE the m per-subspace code expressions reference
    # it — CollapseProject keeps non-cheap aliases referenced >1 time
    # in their own project, so the normalization fold runs once per
    # row instead of m times (the interpreted-HOF no-CSE regime)
    staged = corpus.select(
        F.col(id_col).alias("id"),
        (_unit(v0) if normalize else v0).alias("__v"),
    )
    return staged.select(
        "id", pq_assign_code(F.col("__v"), codebooks).alias("codes")
    )


def _shortlist_and_refine(
    scored: DataFrame,
    k: int,
    refine: int,
    corpus: DataFrame | None,
    qvecs: DataFrame | None,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    op: str,
    normalize: bool = True,
) -> DataFrame:
    """The two-stage tail shared by ``pq_topk`` and ``ivfpq_topk``:
    rank the (__qid, __cid, __dist) ADC frame (dist asc, id asc, 6dp
    already applied), keep max(k, refine), and optionally rescore the
    shortlist EXACTLY against the raw corpus — in the metric the ADC
    stage ranked under. ``normalize=True`` (the unit-sphere regime)
    refines by exact cosine, descending, as ``cosine_sim``; with
    ``normalize=False`` the index lives in raw L2 space where cosine
    and L2 rank DIFFERENTLY off the unit sphere, so the refinement is
    exact squared L2, ascending, as ``l2_dist`` — one metric end to
    end, never a silent mid-pipeline switch (r9 advice). One copy of
    the tie-break / rounding / broadcast discipline — a fix here fixes
    both callers (self-review: the tail had been duplicated verbatim).
    ``qvecs`` carries (__qid, __qv); in the cosine regime scale
    invariance makes normalized or raw query vectors equivalent, in
    the L2 regime callers pass RAW vectors on both sides."""
    from pyspark.sql import Window as W

    w = W.partitionBy("__qid").orderBy(F.col("__dist").asc(), F.col("__cid").asc())
    n_short = max(k, refine) if refine else k
    short = scored.withColumn("__rank", F.row_number().over(w)).filter(
        F.col("__rank") <= n_short
    )
    if not refine:
        return short.select(
            F.col("__qid").alias(query_id_col),
            F.col("__cid").alias(id_col),
            F.col("__rank").alias("rank"),
            F.col("__dist").alias("adc_dist"),
        )
    if corpus is None:
        raise ValueError(f"{op}: refine requires the raw corpus frame")
    raw = corpus.select(
        F.col(id_col).alias("__cid"), _as_double(F.col(vec_col)).alias("__cv")
    )
    # the shortlist is refine x |queries| rows — BROADCAST it so the
    # raw corpus never shuffles for the refinement (the advertised
    # two-stage cost; an unhinted join would exchange the corpus)
    if normalize:
        score = F.round(cosine(F.col("__cv"), F.col("__qv")), 6)
        order, out_col = F.col("__sc").desc(), "cosine_sim"
    else:
        score = F.round(
            F.aggregate(
                F.zip_with(
                    F.col("__cv"), F.col("__qv"), lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0.0),
                lambda acc, d: acc + d,
            ),
            6,
        )
        order, out_col = F.col("__sc").asc(), "l2_dist"
    exact = (
        F.broadcast(short.select("__qid", "__cid"))
        .join(raw, "__cid")
        .join(F.broadcast(qvecs), "__qid")
        .select("__qid", "__cid", score.alias("__sc"))
    )
    w2 = W.partitionBy("__qid").orderBy(order, F.col("__cid").asc())
    return (
        exact.withColumn("__rank", F.row_number().over(w2))
        .filter(F.col("__rank") <= k)
        .select(
            F.col("__qid").alias(query_id_col),
            F.col("__cid").alias(id_col),
            F.col("__rank").alias("rank"),
            F.col("__sc").alias(out_col),
        )
    )


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    refine: int = 0,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    normalize: bool = True,
) -> DataFrame:
    """ADC top-k over a ``pq_encode`` frame: (query_id, <id_col>,
    rank, adc_dist). Queries broadcast with per-query lookup tables;
    a corpus row costs m element_at lookups + one linear fold.

    SERVING CONTRACT (the ``brute_force_topk`` rule): flat ADC scores
    |corpus| × |queries| rows before the rank — correct for BOUNDED
    query sets (interactive lookups, re-ranking a shortlist, oracle
    baselines), NOT for bulk serving; point bulk query workloads at
    ``ivfpq_topk``, whose candidate volume is the probed cells' codes,
    never the corpus.

    ``refine=R`` (with ``corpus``) rescores the top-R ADC candidates
    per query EXACTLY — cosine (desc, ``cosine_sim``) in the default
    unit-sphere regime, squared L2 (asc, ``l2_dist``) when
    ``normalize=False``, so both stages rank under ONE metric — and
    returns (query_id, <id_col>, rank, <score>): ranks then come from
    the exact scores, ADC only shortlists (the two-stage recipe; R ≫ k
    buys recall back from the quantization error)."""
    m, sub = _geometry(codebooks)
    luts = _subspace_map(F.col("__qv"), codebooks)
    qv0 = _dim_guarded(_as_double(F.col(query_vec_col)), m, sub)
    q = queries.select(
        F.col(query_id_col).alias("__qid"),
        (_unit(qv0) if normalize else qv0).alias("__qv"),
    ).withColumn("__luts", luts)
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.element_at("__luts", j + F.lit(1)),
            F.element_at(F.col("codes"), j + F.lit(1)) + F.lit(1),
        ),
    )
    scored = (
        codes.crossJoin(F.broadcast(q))
        .select(
            F.col("__qid"),
            F.col("id").alias("__cid"),
            F.round(adc, 6).alias("__dist"),
        )
        .filter(F.col("__dist").isNotNull())
    )
    return _shortlist_and_refine(
        scored, k, refine, corpus, q.select("__qid", "__qv"),
        id_col, vec_col, query_id_col, "pq_topk", normalize=normalize,
    )


# ------------------------------------------------------------------ #
# IVF-PQ: the canonical at-scale pairing (FAISS's IVFPQ) — the IVF
# coarse quantizer prunes candidates to n_probe cells, PQ prices each
# candidate at m lookups over RESIDUALS (vec − cell centroid), which
# quantize far better than raw vectors (residuals are small and
# centered). The math that makes per-cell ADC exact-in-expectation:
# within a probed cell, ||q − x||² = ||(q − c) − (x − c)||² for the
# SAME centroid c, so comparing the query's residual against stored
# residual codes approximates the true distance regardless of how
# cells were assigned. Cells use the repo's existing IVF rule
# (cosine argmax via similarity.ivf_assign — scale-invariant, shared
# with the streaming IVF stores); vectors default to unit space
# (normalize=True) so L2 ranking is cosine ranking.
# STORE CONTRACT: (centroids, codebooks, normalize) are ONE identity —
# retraining either quantizer means re-encoding (the generation rule).


def _cents_lit(centroids: list[list[float]]) -> Column:
    # one nested-array literal, not cells × dim unrolled F.lit nodes —
    # the _l2_dists rationale applied to the residual path's centroid
    # table (r11 review: this was the one literal left unrolled);
    # r15: built via ONE expr parse, not per-element py4j (_fastlit)
    return lit_double_rows(centroids)


def _residual(vec: Column, cell: Column, centroids: list[list[float]]) -> Column:
    """vec − centroids[cell], as one zip_with over the literal
    centroid table (NULL cell ⇒ NULL residual ⇒ NULL codes — the
    family's exclusion path for zero-norm/NULL vectors)."""
    cent = F.element_at(_cents_lit(centroids), cell + F.lit(1))
    return F.zip_with(vec, cent, lambda a, b: a - b)


def ivfpq_train(
    corpus: DataFrame,
    centroids: list[list[float]],
    m: int = 8,
    k: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> list[list[list[float]]]:
    """Train PQ codebooks on the RESIDUALS of ``corpus`` against the
    (frozen) IVF ``centroids`` — one residual projection, then the
    plain ``pq_train`` Lloyd loop (normalize=False: residuals are
    already centered differences in the chosen space)."""
    from .similarity import ivf_assign

    if len(centroids[0]) % m != 0:
        raise ValueError(
            f"ivfpq: centroid dim {len(centroids[0])} not divisible by "
            f"m {m} — stale quantizer? (centroids+codebooks are ONE "
            "store identity)"
        )
    v0 = _as_double(F.col(vec_col))
    # staged: u once, then cell (references u C times), then the
    # residual — each level lives in its own projection (see
    # pq_encode's staging note)
    st = corpus.select(
        F.col(id_col).alias("vec_id"),
        (_unit(v0) if normalize else v0).alias("__u"),
    ).select(
        "vec_id", "__u", ivf_assign(F.col("__u"), centroids).alias("__cell")
    )
    res = st.select(
        "vec_id",
        _residual(F.col("__u"), F.col("__cell"), centroids).alias("residual"),
    )
    return pq_train(
        res, m=m, k=k, n_iters=n_iters,
        id_col="vec_id", vec_col="residual", normalize=False,
    )


def ivfpq_encode(
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """(id, cell, codes) — the persistable IVF-PQ index: the inverted
    file's cell key plus m ints of residual codes per vector."""
    from .similarity import ivf_assign

    m, sub = _geometry(codebooks)
    if len(centroids[0]) != m * sub:
        raise ValueError(
            f"ivfpq: centroid dim {len(centroids[0])} != codebook "
            f"geometry {m}x{sub} — mixed store generations? a silent "
            "mismatch would zip_with-pad residuals with NULLs and "
            "drop the whole corpus from every probe"
        )
    v0 = _dim_guarded(_as_double(F.col(vec_col)), m, sub)
    # staged projections: u -> cell -> residual -> codes. MEASURED
    # TRADE-OFF (20k vectors x 64 cells x m=8): Catalyst's
    # CollapseProject re-inlines SOME of these aliases (the optimized
    # plan carries a few duplicate subtrees), yet this form runs in
    # 24.5s while a fully lambda-BOUND chain (_bound at every level —
    # runtime-guaranteed single evaluation) took 67.7s: binding the
    # whole pipeline into one nested higher-order expression forces
    # it entirely onto the interpreted path, losing more to codegen
    # exile than the duplication costs. _bound stays the right tool
    # for ~100x duplications inside ONE expression (the audio-family
    # case), not for chaining whole column pipelines.
    st = corpus.select(
        F.col(id_col).alias("id"),
        (_unit(v0) if normalize else v0).alias("__u"),
    ).select(
        "id", "__u", ivf_assign(F.col("__u"), centroids).alias("cell")
    ).select(
        "id",
        "cell",
        _residual(F.col("__u"), F.col("cell"), centroids).alias("__res"),
    )
    return st.select(
        "id", "cell", pq_assign_code(F.col("__res"), codebooks).alias("codes")
    )


def ivfpq_topk(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    n_probe: int = 2,
    refine: int = 0,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    normalize: bool = True,
) -> DataFrame:
    """ADC top-k over an ``ivfpq_encode`` index: each query probes its
    ``n_probe`` nearest cells (the IVF rule — deterministic index
    tie-break), carries a PER-CELL residual lookup table (the residual
    depends on the cell's centroid), and candidates join on the cell
    key — index-side volume ∝ probed-cell sizes, never the corpus
    (the bulk-serving path; flat ``pq_topk`` is the bounded-query
    twin). Returns (query_id, <id_col>, rank, adc_dist), or exact
    ranks over the shortlist with ``refine``/``corpus`` (the
    ``pq_topk`` two-stage recipe — cosine in the default unit-sphere
    regime, squared L2 when ``normalize=False``)."""
    from .similarity import _centroid_sims

    m, sub = _geometry(codebooks)
    if len(centroids[0]) != m * sub:
        raise ValueError(
            f"ivfpq: centroid dim {len(centroids[0])} != codebook "
            f"geometry {m}x{sub} — mixed store generations?"
        )
    qv0 = _dim_guarded(_as_double(F.col(query_vec_col)), m, sub)
    qu = _unit(qv0) if normalize else qv0
    # n_probe nearest cells by the IVF rule (cosine desc, index asc)
    probed = _bound(
        _centroid_sims(F.col("__qv"), centroids),
        lambda sims: F.slice(
            F.array_sort(
                F.transform(
                    F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
                    lambda i: F.struct(
                        (-F.element_at(sims, i + F.lit(1))).alias("negsim"),
                        i.cast("int").alias("cell"),
                    ),
                )
            ),
            1,
            n_probe,
        ),
    )
    q = (
        queries.select(
            F.col(query_id_col).alias("__qid"), qu.alias("__qv")
        )
        .withColumn("__probe", F.explode(probed))
        .select("__qid", "__qv", F.col("__probe.cell").alias("cell"))
    )
    q = q.withColumn(
        "__qres", _residual(F.col("__qv"), F.col("cell"), centroids)
    )
    luts = _subspace_map(F.col("__qres"), codebooks)
    q = q.withColumn("__luts", luts).drop("__qv", "__qres")
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.element_at("__luts", j + F.lit(1)),
            F.element_at(F.col("codes"), j + F.lit(1)) + F.lit(1),
        ),
    )
    scored = (
        index.join(F.broadcast(q), "cell")
        .select(
            F.col("__qid"),
            F.col("id").alias("__cid"),
            F.round(adc, 6).alias("__dist"),
        )
        .filter(F.col("__dist").isNotNull())
    )
    # refine against the RAW query vectors — in the cosine regime
    # scale invariance matches pq_topk's normalized-vector refinement
    # exactly; in the L2 regime raw-vs-raw IS the metric
    qvecs = queries.select(
        F.col(query_id_col).alias("__qid"),
        _as_double(F.col(query_vec_col)).alias("__qv"),
    )
    return _shortlist_and_refine(
        scored, k, refine, corpus, qvecs, id_col, vec_col, query_id_col,
        "ivfpq_topk", normalize=normalize,
    )
