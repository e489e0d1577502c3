"""Product quantization (functions/pq.py) vs a pure-Python reference,
plus recall behavior on the real embeddings."""

import pytest
from pyspark.sql import functions as F

from willa_spark.functions import pq as PQ


# ---------------------------------------------------------------- #
# pure-Python reference of the same spec (lowest-id init, L2 argmin
# with first-index tie-break, mean update, empty cell keeps centroid).
# Integer-valued fixtures keep every mean/sum exactly representable,
# so Spark and Python agree bit-for-bit and the differential is
# hash-grade, not tolerance-grade.
def _ref_train(vectors, m, k, n_iters):
    ids = sorted(vectors)
    dim = len(vectors[ids[0]])
    sub = dim // m
    books = []
    for j in range(m):
        cb = [list(vectors[i][j * sub : (j + 1) * sub]) for i in ids[:k]]
        for _ in range(n_iters):
            cells = {}
            for i in ids:
                s = vectors[i][j * sub : (j + 1) * sub]
                d = [sum((a - b) ** 2 for a, b in zip(s, c)) for c in cb]
                cells.setdefault(d.index(min(d)), []).append(s)
            cb = [
                [sum(col) / len(col) for col in zip(*cells[c])]
                if c in cells
                else cb[c]
                for c in range(k)
            ]
        books.append(cb)
    return books


def _ref_code(v, books):
    m, sub = len(books), len(books[0][0])
    out = []
    for j in range(m):
        s = v[j * sub : (j + 1) * sub]
        d = [sum((a - b) ** 2 for a, b in zip(s, c)) for c in books[j]]
        out.append(d.index(min(d)))
    return out


def _ref_adc(qv, code, books):
    sub = len(books[0][0])
    return sum(
        sum(
            (a - b) ** 2
            for a, b in zip(qv[j * sub : (j + 1) * sub], books[j][code[j]])
        )
        for j in range(len(books))
    )


_VECS = {
    # two clear clusters per subspace (dim 8, m=2 -> sub 4): ids 0-5
    # near (0,..), ids 6-11 near (10,..), with integer jitter
    i: [float((i % 3) + (10 if i >= 6 else 0))] * 4
    + [float((i % 2) * 2 + (10 if i >= 6 else 0))] * 4
    for i in range(12)
}


def _emb_df(spark, vecs=_VECS):
    return spark.createDataFrame(
        [(i, v) for i, v in sorted(vecs.items())],
        "vec_id long, embedding array<double>",
    )


def test_pq_train_encode_adc_differential(spark):
    """Codebooks, codes, and ADC distances all equal the reference
    exactly (integer-exact fixture)."""
    df = _emb_df(spark)
    books = PQ.pq_train(df, m=2, k=2, n_iters=2, normalize=False)
    want_books = _ref_train(_VECS, m=2, k=2, n_iters=2)
    assert books == want_books

    codes = {
        r["id"]: list(r["codes"])
        for r in PQ.pq_encode(df, books, normalize=False).collect()
    }
    assert codes == {i: _ref_code(v, books) for i, v in _VECS.items()}

    queries = spark.createDataFrame(
        [(100, _VECS[0]), (101, _VECS[7])],
        "query_id long, query_vec array<double>",
    )
    got = PQ.pq_topk(
        PQ.pq_encode(df, books, normalize=False),
        queries,
        books,
        k=12,
        normalize=False,
    ).collect()
    qvecs = {100: _VECS[0], 101: _VECS[7]}
    for r in got:
        want = round(_ref_adc(qvecs[r["query_id"]], codes[r["vec_id"]], books), 6)
        assert r["adc_dist"] == want
    # ranking: query 100 (cluster A) must rank every cluster-A id
    # before any cluster-B id under ADC
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    first6 = {v for rk, v in sorted(by_q[100])[:6]}
    assert first6 == set(range(6))


def test_pq_refine_raw_regime_rescores_with_exact_l2(spark):
    """Two-stage in the raw (normalize=False) regime: refine returns
    exact SQUARED-L2 ranks over the ADC shortlist — the same metric
    the ADC stage ranked under, not cosine (r9 advice: off the unit
    sphere the two rank differently). A planted exact duplicate lands
    at rank 1 with l2_dist 0.0."""
    vecs = dict(_VECS)
    vecs[12] = list(_VECS[3])  # exact duplicate of id 3
    df = _emb_df(spark, vecs)
    books = PQ.pq_train(df, m=2, k=2, n_iters=2, normalize=False)
    queries = spark.createDataFrame(
        [(3, vecs[3])], "query_id long, query_vec array<double>"
    )
    got = sorted(
        (r["rank"], r["vec_id"], r["l2_dist"])
        for r in PQ.pq_topk(
            PQ.pq_encode(df, books, normalize=False),
            queries,
            books,
            k=3,
            refine=8,
            corpus=df,
            normalize=False,
        ).collect()
    )
    assert got[0] == (1, 3, 0.0) and got[1] == (2, 12, 0.0)
    assert [c for _, _, c in got] == sorted(c for _, _, c in got)
    # exact values vs the pure-Python metric
    for _, vid, d in got:
        want = round(sum((a - b) ** 2 for a, b in zip(vecs[3], vecs[vid])), 6)
        assert d == want


def test_pq_refine_metric_follows_regime(spark):
    """Where cosine and L2 DISAGREE (off-sphere magnitudes), the raw
    regime's refine must follow L2. Query (1,0,...): id 20 = (1,0,..)
    scaled 5x has perfect cosine but L2 16; id 21 = (2,1,0,..) has
    worse cosine but L2 2 — L2 refine ranks 21 first, a cosine refine
    would invert them (the silent-metric-switch defect)."""
    vecs = {
        20: [5.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
        21: [2.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
        # filler so k=2 training has distinct points per subspace
        22: [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0],
        23: [9.0, 9.0, 9.0, 9.0, 9.0, 9.0, 9.0, 9.0],
    }
    df = _emb_df(spark, vecs)
    books = PQ.pq_train(df, m=2, k=2, n_iters=2, normalize=False)
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0])],
        "query_id long, query_vec array<double>",
    )
    got = sorted(
        (r["rank"], r["vec_id"], r["l2_dist"])
        for r in PQ.pq_topk(
            PQ.pq_encode(df, books, normalize=False),
            queries,
            books,
            k=3,
            refine=4,
            corpus=df,
            normalize=False,
        ).collect()
    )
    assert [(v, d) for _, v, d in got] == [(21, 2.0), (22, 3.0), (20, 16.0)]
    # and the unit-sphere regime still refines by cosine (desc):
    # same corpus, normalize=True end-to-end — id 20 (perfect cosine)
    # must outrank id 21
    books_u = PQ.pq_train(df, m=2, k=2, n_iters=2, normalize=True)
    got_u = sorted(
        (r["rank"], r["vec_id"], r["cosine_sim"])
        for r in PQ.pq_topk(
            PQ.pq_encode(df, books_u, normalize=True),
            queries,
            books_u,
            k=2,
            refine=4,
            corpus=df,
            normalize=True,
        ).collect()
    )
    assert got_u[0][1] == 20 and got_u[0][2] == 1.0
    assert got_u[1][1] == 21


def test_pq_recall_on_real_embeddings(spark):
    """On the driver embeddings: ADC top-10 with refine recovers the
    brute-force top-1 for every query (the self-doc at cosine 1.0),
    and unrefined ADC keeps a sane recall floor vs brute force."""
    from willa_spark.functions.similarity import brute_force_topk
    from willa_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    books = PQ.pq_train(emb, m=8, k=16, n_iters=1)
    codes = PQ.pq_encode(emb, books)
    refined = PQ.pq_topk(codes, queries, books, k=10, refine=100, corpus=emb)
    top1 = {
        r["query_id"]: r["vec_id"]
        for r in refined.filter(F.col("rank") == 1).collect()
    }
    assert top1 == {i: i for i in range(5)}  # self-doc at cosine 1.0
    want = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    # two-stage recall@10 (the production config): the refine=100
    # ADC shortlist must recover nearly everything the exact rank has
    got_refined = {
        (r["query_id"], r["vec_id"]) for r in refined.collect()
    }
    assert len(got_refined & want) / len(want) >= 0.9
    # ADC alone is a SHORTLIST GENERATOR: random unit vectors are
    # PQ's worst case (no cluster structure), so the unrefined floor
    # is deliberately modest — it pins "meaningfully better than the
    # 10/500 random baseline", not exact-rank parity
    got = {
        (r["query_id"], r["vec_id"])
        for r in PQ.pq_topk(codes, queries, books, k=10).collect()
    }
    recall = len(got & want) / len(want)
    assert recall >= 0.3, recall


def test_pq_null_vec_excluded_and_guards(spark):
    """NULL-vector rows never appear in results; dim % m != 0 and
    k > corpus fail loud."""
    rows = [(i, v) for i, v in sorted(_VECS.items())] + [(99, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = PQ.pq_train(df, m=2, k=2, n_iters=1, normalize=False)
    queries = spark.createDataFrame(
        [(0, _VECS[0])], "query_id long, query_vec array<double>"
    )
    got = PQ.pq_topk(
        PQ.pq_encode(df, books, normalize=False),
        queries,
        books,
        k=20,
        normalize=False,
    ).collect()
    assert 99 not in {r["vec_id"] for r in got} and len(got) == 12
    # under normalize=True the all-zero vector (id 0, no direction)
    # becomes a NULL unit ARRAY and is excluded from training init,
    # encoding, and results — probed with a NONZERO query (a zero
    # query vector has no direction either and yields no rows)
    books_n = PQ.pq_train(df, m=2, k=2, n_iters=1)
    queries_n = spark.createDataFrame(
        [(1, _VECS[1])], "query_id long, query_vec array<double>"
    )
    got_n = PQ.pq_topk(
        PQ.pq_encode(df, books_n), queries_n, books_n, k=20
    ).collect()
    assert {r["vec_id"] for r in got_n} == set(range(1, 12))
    zero_q = PQ.pq_topk(
        PQ.pq_encode(df, books_n), queries, books_n, k=20
    ).collect()
    assert zero_q == []
    with pytest.raises(ValueError, match="not divisible"):
        PQ.pq_train(_emb_df(spark), m=3, k=2)
    with pytest.raises(ValueError, match="exceeds corpus"):
        PQ.pq_train(_emb_df(spark), m=2, k=100)


def test_pq_train_tolerates_null_element_vectors(spark):
    """A raw-L2 (normalize=False) corpus vector with a NULL ELEMENT
    yields NULL subspace distances → a NULL cid; the fused trainer
    must discard that assignment exactly as the per-subspace loop's
    dict did (r11 review: the fused rebuild crashed indexing with
    None), and the clean vectors' codebooks must be unaffected."""
    rows = [(i, v) for i, v in sorted(_VECS.items())] + [
        (98, [0.5, None, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0])
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = PQ.pq_train(df, m=2, k=2, n_iters=1, normalize=False)
    clean = PQ.pq_train(_emb_df(spark), m=2, k=2, n_iters=1, normalize=False)
    # subspace 1 (the NULL element lives in subspace 0) sees the same
    # assignments either way... but the dirty vector's subspace-1
    # slice is valid and DOES contribute to that codebook's means —
    # so assert structure + the subspace-0 books equal the clean run
    # (the NULL-cid row was discarded there)
    assert len(books) == 2 and all(len(cb) == 2 for cb in books)
    assert books[0] == clean[0]


def test_streaming_pq_store_congruity_and_replay(spark, tmp_path):
    """PQ code store: two-batch ingest + probe must equal batch
    pq_topk over the full corpus EXACTLY (codes are deterministic
    functions of frozen codebooks — batching cannot change them); a
    probe before ingest yields a typed empty frame; replay overwrites
    its own partition (no duplicated code rows)."""
    import os

    from willa_spark.sources import read_table
    from willa_spark.streaming.ann import pq_index_step, pq_probe_step

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    books = PQ.pq_train(emb, m=8, k=8, n_iters=1)
    store = os.path.join(str(tmp_path), "pq-store")
    results = {}

    def sink(df, bid):
        results[bid] = sorted(tuple(r) for r in df.collect())

    probe = pq_probe_step(store, books, sink, k=5)
    probe(queries, 0)
    assert results[0] == []

    index = pq_index_step(store, books)
    index(emb.filter(F.col("vec_id") % 2 == 0), 0)
    index(emb.filter(F.col("vec_id") % 2 == 1), 1)
    probe(queries, 1)
    want = sorted(
        tuple(r)
        for r in PQ.pq_topk(PQ.pq_encode(emb, books), queries, books, k=5).collect()
    )
    assert results[1] == want and want

    index(emb.filter(F.col("vec_id") % 2 == 1), 1)  # replay
    probe(queries, 2)
    assert results[2] == want
    codes = spark.read.parquet(store)
    assert codes.count() == codes.select("id").distinct().count()


def test_pq_dim_mismatch_fails_loud(spark):
    """Self-review regression: a vector whose length disagrees with
    the trained geometry must raise in-plan, not silently truncate to
    its prefix (slice would happily read the first m*sub dims)."""
    books = PQ.pq_train(_emb_df(spark), m=2, k=2, n_iters=1, normalize=False)
    bad = spark.createDataFrame(
        [(0, [1.0] * 12)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="trained geometry"):
        PQ.pq_encode(bad, books, normalize=False).collect()
    badq = spark.createDataFrame(
        [(0, [1.0] * 12)], "query_id long, query_vec array<double>"
    )
    codes = PQ.pq_encode(_emb_df(spark), books, normalize=False)
    with pytest.raises(Exception, match="trained geometry"):
        PQ.pq_topk(codes, badq, books, k=3, normalize=False).collect()


def test_pq_empty_codebooks_fail_loud(spark):
    """r15 advice: _subspace_map must reject degenerate codebooks with
    the contract error, not a bare IndexError at codebooks[0][0] —
    pq_assign_code/pq_topk/ivfpq_topk are public API taking
    caller-supplied codebooks."""
    df = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    for bad in ([], [[]], [[[]]]):
        with pytest.raises(ValueError, match="empty codebooks"):
            PQ.pq_encode(df, bad, normalize=False)


def test_streaming_pq_pre_ingest_type_flows_from_batch(spark, tmp_path):
    """Self-review regression: a pre-ingest probe's empty frame takes
    its query-id TYPE from the batch (string here), so an appending
    sink never sees a bigint batch-0 schema fork."""
    import os

    from willa_spark.streaming.ann import pq_probe_step

    books = PQ.pq_train(_emb_df(spark), m=2, k=2, n_iters=1, normalize=False)
    queries = spark.createDataFrame(
        [("qa", _VECS[1])], "query_id string, query_vec array<double>"
    )
    schemas = {}

    def sink(df, bid):
        schemas[bid] = dict(df.dtypes)
        assert df.count() == 0

    probe = pq_probe_step(
        os.path.join(str(tmp_path), "pq-empty"), books, sink, k=3,
        normalize=False,
    )
    probe(queries, 0)
    assert schemas[0]["query_id"] == "string"


def _ref_cos_assign(v, centroids):
    import math

    best, bi = None, None
    vn = math.sqrt(sum(x * x for x in v))
    for i, c in enumerate(centroids):
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        s = sum(a * b for a, b in zip(v, c)) / (vn * cn)
        if best is None or s > best:
            best, bi = s, i
    return bi


def test_ivfpq_adc_differential_and_cell_pruning(spark):
    """IVF-PQ arithmetic vs a pure-Python composition of the already-
    pinned pieces: cosine cell assignment, residual vs the cell
    centroid, per-subspace code, ADC = summed residual-LUT lookups —
    exact on the integer fixture; and candidates come ONLY from the
    query's n_probe nearest cells (the inverted-file contract)."""
    vecs = {i: v for i, v in _VECS.items() if i != 0}  # drop zero vector
    df = _emb_df(spark, vecs)
    centroids = [[1.0] * 8, [11.0] * 8]
    books = PQ.ivfpq_train(df, centroids, m=2, k=2, n_iters=1, normalize=False)
    idx = PQ.ivfpq_encode(df, centroids, books, normalize=False)
    cells = {r["id"]: r["cell"] for r in idx.collect()}
    assert cells == {i: _ref_cos_assign(v, centroids) for i, v in vecs.items()}
    codes = {r["id"]: list(r["codes"]) for r in idx.collect()}
    for i, v in vecs.items():
        res = [a - b for a, b in zip(v, centroids[cells[i]])]
        assert codes[i] == _ref_code(res, books)

    queries = spark.createDataFrame(
        [(100, vecs[7])], "query_id long, query_vec array<double>"
    )
    got = PQ.ivfpq_topk(
        idx, queries, centroids, books, k=20, n_probe=1, normalize=False
    ).collect()
    qcell = _ref_cos_assign(vecs[7], centroids)
    assert {r["vec_id"] for r in got} == {
        i for i, c in cells.items() if c == qcell
    }
    qres = [a - b for a, b in zip(vecs[7], centroids[qcell])]
    for r in got:
        want = round(_ref_adc(qres, codes[r["vec_id"]], books), 6)
        assert r["adc_dist"] == want
    # n_probe=2 reaches the other cell too
    got2 = PQ.ivfpq_topk(
        idx, queries, centroids, books, k=20, n_probe=2, normalize=False
    ).collect()
    assert {r["vec_id"] for r in got2} == set(vecs)


def test_ivfpq_recall_on_real_embeddings(spark):
    """Two-stage IVF-PQ on the driver embeddings: self-doc at rank 1
    for every query (refined AND at unrefined ADC — where its
    adc_dist is the quantization error, > 0 in general, just smaller
    than every other candidate's), refined recall@10 >= 0.8 at
    n_probe=4 of 8 cells (the probe budget trades recall for index
    volume — documented), and a planted exact duplicate ties the
    original's adc_dist exactly (same cell, same codes)."""
    from willa_spark.functions.similarity import brute_force_topk, train_centroids
    from willa_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = train_centroids(emb, n_centroids=8, n_iters=1)
    books = PQ.ivfpq_train(emb, cents, m=8, k=16, n_iters=1)
    idx = PQ.ivfpq_encode(emb, cents, books)
    refined = PQ.ivfpq_topk(
        idx, queries, cents, books, k=10, n_probe=4, refine=100, corpus=emb
    )
    top1 = {
        r["query_id"]: r["vec_id"]
        for r in refined.filter(F.col("rank") == 1).collect()
    }
    assert top1 == {i: i for i in range(5)}
    want = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    got = {(r["query_id"], r["vec_id"]) for r in refined.collect()}
    assert len(got & want) / len(want) >= 0.8, len(got & want) / len(want)
    # self-query under UNREFINED ADC: rank 1 — note its adc_dist is
    # the QUANTIZATION error (ADC compares the query residual to the
    # candidate's quantized code), strictly > 0 in general, just
    # smaller than every other candidate's
    adc = PQ.ivfpq_topk(idx, queries, cents, books, k=1, n_probe=4)
    assert {r["query_id"]: r["vec_id"] for r in adc.collect()} == {
        i: i for i in range(5)
    }
    # planted exact duplicate: identical vector => same cell, same
    # codes => adc_dist EQUAL to the original's, tie broken by id
    dup = emb.filter(F.col("vec_id") == 0).select(
        F.lit(900_000).alias("vec_id"), "embedding"
    )
    idx2 = PQ.ivfpq_encode(emb.unionByName(dup), cents, books)
    pair = {
        r["vec_id"]: r["adc_dist"]
        for r in PQ.ivfpq_topk(
            idx2, queries.filter(F.col("query_id") == 0), cents, books,
            k=2, n_probe=4,
        ).collect()
    }
    assert set(pair) == {0, 900_000} and pair[0] == pair[900_000]


def test_ivfpq_geometry_guards_fail_loud(spark):
    """Self-review regression: a centroid table whose dimension
    disagrees with the codebook geometry fails loud — zip_with would
    otherwise NULL-pad every residual and silently drop the entire
    corpus from every probe."""
    df = _emb_df(spark)  # dim 8
    cents8 = [[1.0] * 8, [11.0] * 8]
    books = PQ.ivfpq_train(df, cents8, m=2, k=2, n_iters=1, normalize=False)
    cents6 = [[1.0] * 6, [11.0] * 6]
    with pytest.raises(ValueError, match="centroid dim"):
        PQ.ivfpq_encode(df, cents6, books, normalize=False)
    with pytest.raises(ValueError, match="centroid dim"):
        PQ.ivfpq_topk(
            PQ.ivfpq_encode(df, cents8, books, normalize=False),
            spark.createDataFrame([(1, _VECS[1])], "query_id long, query_vec array<double>"),
            cents6,
            books,
            normalize=False,
        )
    with pytest.raises(ValueError, match="not divisible"):
        PQ.ivfpq_train(df, [[1.0] * 7], m=2, k=2, normalize=False)


def test_pq_recall_bands_oracle_parity(spark):
    """The PQ/IVF-PQ registration candidates (queued r10 for the r11
    gate), parity-pinned NOW: exact query ids + n_results with the
    in-plan-verified band booleans, vs the trivial oracle (a violated
    band raise_errors in Spark rather than hash-mismatching — the
    fail-loud arm of the sketch_profile_bands pattern). Green at
    sf0.001/0.01/0.1 through the driver-grade pre-flight when queued;
    the pin runs the small corpus."""
    import duckdb

    from willa_spark.queries import (
        IVFPQ_RECALL_ORACLE,
        PQ_RECALL_ORACLE,
        q_ivfpq_recall_bands,
        q_pq_recall_bands,
    )

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    for fn, oracle in (
        (q_pq_recall_bands, PQ_RECALL_ORACLE),
        (q_ivfpq_recall_bands, IVFPQ_RECALL_ORACLE),
    ):
        got = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
        want = sorted(tuple(r) for r in con.execute(oracle).fetchall())
        assert len(got) == len(want) > 0
        assert got == want
