"""Unit tests for the training-data pipeline function modules:
text analysis, dedup (all five levels), similarity search, multimodal
plumbing — plus physical-plan assertions (broadcast, pushdown) that
guard the 100 TB plan shapes."""

import os

import pytest
from pyspark.sql import functions as F

from willa_spark.functions import dedup as D
from willa_spark.functions import similarity as S
from willa_spark.functions import text as TXT
from willa_spark.functions.multimodal import (
    decode_images,
    fake_image_decoder,
    resize_features,
    sample_frames,
)
from willa_spark.operators.skew import write_bucketed
from willa_spark.plans import pushed_filters, uses_broadcast_join


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "der hund ist nicht ein katze und das ist gut"),
        (4, "le chat est une belle bête et il est là pour vous"),
        (5, "completely different text about spark engines and data"),
        (6, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (7, "你好 世界 这是 中文"),
        (8, ""),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_tokens_and_counts(spark, docs):
    r = {
        row["doc_id"]: (row["n"], row["w"])
        for row in docs.select(
            "doc_id",
            TXT.token_count(F.col("text")).alias("n"),
            TXT.word_token_count(F.col("text")).alias("w"),
        ).collect()
    }
    assert r[1] == (9, 9)
    assert r[5] == (8, 8)


def test_lang_id(spark, docs):
    r = {
        row["doc_id"]: row["lang"]
        for row in docs.select("doc_id", TXT.lang_id(F.col("text")).alias("lang")).collect()
    }
    assert r[1] == "en"
    assert r[3] == "de"
    assert r[4] == "fr"
    assert r[7] == "zh"
    assert r[8] == "und"


def test_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, " hello   world ")],
        "doc_id bigint, text string",
    )
    fps = [r["fp"] for r in df.select(TXT.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1] == fps[2]


def test_exact_dedup(spark, docs):
    groups = D.exact_dup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_dups"] == 2 and groups[0]["canonical_id"] == 1
    kept = D.exact_dedup(docs)
    assert kept.count() == docs.count() - 1
    assert 6 not in {r["doc_id"] for r in kept.collect()}


def test_shingles_and_jaccard(spark):
    df = spark.createDataFrame([(1, "a b c d")], "id bigint, text string")
    sh = df.select(D.shingles(F.col("text"), 3).alias("s")).collect()[0]["s"]
    assert sh == ["a b c", "b c d"]
    j = (
        spark.range(1)
        .select(
            D.ngram_jaccard(
                F.array(F.lit("x"), F.lit("y")), F.array(F.lit("y"), F.lit("z"))
            ).alias("j")
        )
        .collect()[0]["j"]
    )
    assert abs(j - 1 / 3) < 1e-9


def test_minhash_finds_near_dups(spark, docs):
    cands = D.minhash_candidate_pairs(docs, num_hashes=32, num_bands=16)
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (1, 6) in pairs  # exact dups always collide
    verified = D.verified_near_dups(docs, cands, threshold=0.5)
    # plan guardrail: shingling is restricted to candidate-involved
    # docs via a LEFT SEMI join (verification cost ∝ candidates, not
    # corpus — the 100 TB shape). verified_near_dups checkpoints the
    # shingle frame eagerly (its two pair-side consumers would
    # otherwise each re-run the semi-join + shingling), so the
    # semi-join is pinned on the LAZY builder's plan and the returned
    # plan must read the materialized frame instead of re-deriving it.
    from willa_spark.plans.inspect import physical_plan

    assert "LeftSemi" in physical_plan(
        D._candidate_shingles(docs, cands, "text", "doc_id", 3)
    )
    assert "ExistingRDD" in physical_plan(verified)
    vpairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified.collect()}
    assert vpairs[(1, 6)] == 1.0
    if (1, 2) in vpairs:  # near-dup pair (8/10 shingles shared)
        assert 0.5 < vpairs[(1, 2)] < 1.0


def test_simhash_near_dups(spark, docs):
    """Identical docs collide at hamming 0. (A one-token change in a
    9-token doc flips ~16/64 bits — short docs aren't 'near' in simhash
    space; that's expected behavior, minhash handles those.)"""
    out = D.simhash_near_dups(docs, max_hamming=10)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert pairs[(1, 6)] == 0  # identical text → identical signature
    # strict threshold keeps unrelated docs apart
    assert all(h <= 10 for h in pairs.values())
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in D.with_simhash(docs.filter(F.col("doc_id").isin(1, 2, 5))).collect()
    }
    ham_12 = bin(sigs[1] ^ sigs[2]).count("1")
    ham_15 = bin(sigs[1] ^ sigs[5]).count("1")
    assert ham_12 < ham_15  # one-token edit is closer than unrelated text


def test_ann_recall_floors(spark):
    """LSH and IVF approximate top-k vs the oracle-checked exact
    baseline on real driver embeddings: recall@10 must clear a floor
    (measured 1.00 / 0.92 at sf0.001 — floors leave slack for testdata
    regeneration, not for regressions in the candidate generation)."""
    import willa_spark.functions.similarity as S
    from willa_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in S.brute_force_topk(emb, queries, k=10).collect()
    }
    assert len(exact) == 50

    lsh = {
        (r["query_id"], r["vec_id"])
        for r in S.lsh_topk(
            emb, queries, k=10, n_planes=4, n_tables=8, n_probes=2
        ).collect()
    }
    lsh_recall = len(lsh & exact) / len(exact)
    assert lsh_recall >= 0.8, f"LSH recall@10 regressed: {lsh_recall}"

    centroids = S.train_centroids(emb, n_centroids=8, n_iters=1)
    ivf = {
        (r["query_id"], r["vec_id"])
        for r in S.ivf_topk(emb, queries, centroids, k=10, n_probe=2).collect()
    }
    ivf_recall = len(ivf & exact) / len(exact)
    assert ivf_recall >= 0.8, f"IVF recall@10 regressed: {ivf_recall}"


def test_simhash_rejects_insufficient_blocks(spark, docs):
    with pytest.raises(ValueError, match="max_hamming"):
        D.simhash_near_dups(docs, max_hamming=8, num_blocks=4)


def test_simhash_pigeonhole_full_recall_vs_brute_force(spark):
    """Recall guarantee on real driver data: bucketed candidate pairs at
    hamming <= 8 must equal the brute-force all-pairs bit_count(xor)
    answer (sf0.001 documents — small enough for the quadratic oracle)."""
    from willa_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    bucketed = D.simhash_near_dups(docs, max_hamming=8)
    got = {(r["id_a"], r["id_b"], r["hamming"]) for r in bucketed.collect()}

    sh = D.with_simhash(docs).select("doc_id", "simhash")
    l, r = sh.alias("l"), sh.alias("r")
    brute = (
        l.join(r, F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= 8)
    )
    want = {(r["id_a"], r["id_b"], r["hamming"]) for r in brute.collect()}
    assert got == want


def test_image_phash_pairs_vs_brute_force(spark):
    """The binary-column hamming family: bucketed pHash pairs must
    equal the brute-force all-pairs bit_count(xor) answer over the
    decoded hashes (injected byte-sensitive fake codec), planted
    byte-identical twins must always pair at hamming 0, invalid
    pigeonhole configs are rejected, and empty/NULL payloads hash
    to 0."""
    from willa_spark.functions.multimodal import (
        decode_images,
        fake_image_decoder_8x8,
        image_phash_pairs,
        with_phash,
    )

    rows = [
        (i, bytes(f"img payload {i} body {'x' * (i % 11)} tail {i * 13}", "utf8"))
        for i in range(30)
    ]
    rows += [(1000 + i, rows[i][1]) for i in range(0, 30, 6)]  # 5 twins
    df = spark.createDataFrame(rows, "id bigint, data binary")
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in image_phash_pairs(
            df, max_hamming=3, decoder=fake_image_decoder_8x8
        ).collect()
    }
    assert {(a, b) for a, b, h in got if b == a + 1000 and h == 0} == {
        (i, 1000 + i) for i in range(0, 30, 6)
    }
    ph = with_phash(
        decode_images(df, decoder=fake_image_decoder_8x8), "features", "h"
    ).select("id", "h")
    l, r = ph.alias("l"), ph.alias("r")
    brute = (
        l.join(r, F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.bit_count(F.col("l.h").bitwiseXOR(F.col("r.h"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )
    assert got == {(r["id_a"], r["id_b"], r["hamming"]) for r in brute.collect()}

    with pytest.raises(ValueError, match="max_hamming"):
        image_phash_pairs(df, max_hamming=4, num_blocks=4)
    edge = spark.createDataFrame([(1, b""), (2, None)], "id bigint, data binary")
    hs = with_phash(
        decode_images(edge, decoder=fake_image_decoder_8x8), "features", "h"
    )
    assert {r["h"] for r in hs.collect()} == {0}


def test_injected_tokenizer_counting(spark):
    """Real-tokenizer token counting through the injected-callable
    discipline (no subword libs in this container): the Arrow-batched
    UDF counts via the injected tokenizer, agrees with a driver-side
    recount, and the uninjected stub fails loud."""
    from willa_spark.functions.text import fake_bpe_tokenizer, token_count_udf

    rows = [(1, "short words here"), (2, "supercalifragilistic expialidocious hi"),
            (3, ""), (4, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: r["n"]
        for r in df.withColumn(
            "n", token_count_udf(fake_bpe_tokenizer)(F.col("text"))
        ).collect()
    }
    assert got == {
        i: fake_bpe_tokenizer([t])[0] for i, t in rows
    } == {1: 3, 2: 5, 3: 0, 4: 0}
    with pytest.raises(Exception, match="inject"):
        df.withColumn("n", token_count_udf()(F.col("text"))).collect()


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_multimodal_meta_pushdown_prunes_before_decode(spark, tmp_path, fmt):
    """The module docstring's 100 TB claim made real: typed metadata
    lives in a sibling struct column (IMAGE_META_SCHEMA), and a
    filter on it reaches the file scan as a pushed nested-field
    predicate — so pruning happens on stripe/row-group statistics
    BEFORE any byte enters the Python decode stage. Parametrized over
    BOTH columnar formats (VERDICT r06 #8): ORC landed as a source
    format in r6 with its pushdown behavior untested; Spark's
    nestedPredicatePushdown.supportedFileSources covers parquet AND
    orc, and this pins that neither format regresses silently."""
    from pyspark.sql import types as T

    from willa_spark.functions.multimodal import (
        IMAGE_META_SCHEMA,
        decode_images,
        fake_image_decoder,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("meta", IMAGE_META_SCHEMA),
            T.StructField("data", T.BinaryType()),
        ]
    )
    rows = [
        (i, (4 if i % 2 == 0 else 64, 4, "png"), bytes(f"img{i}", "utf8"))
        for i in range(40)
    ]
    path = str(tmp_path / f"imgs-{fmt}")
    spark.createDataFrame(rows, schema).write.format(fmt).save(path)
    df = spark.read.format(fmt).load(path).filter(F.col("meta.width") == 4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "PushedFilters: [" in scan and "meta.width" in scan, scan
    decoded = decode_images(df, decoder=fake_image_decoder)
    assert decoded.count() == 20


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_columnar_partition_dir_pruning_parity(spark, tmp_path, fmt):
    """Partition-directory pruning parity across the columnar formats:
    a filter on the partition column must land in the scan's
    PartitionFilters (directories skipped at planning, no file of the
    other partitions opened), identically for parquet and ORC."""
    import re

    path = str(tmp_path / f"parts-{fmt}")
    spark.range(0, 100).withColumn("bucket", F.col("id") % 4).write.partitionBy(
        "bucket"
    ).format(fmt).save(path)
    df = spark.read.format(fmt).load(path).filter(F.col("bucket") == 2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", scan)
    assert m and "bucket" in m.group(1), scan
    assert df.count() == 25


def test_zero_norm_vectors_are_null_not_errors(spark):
    """A zero-norm embedding must yield NULL similarity / NULL IVF
    cell — not an ANSI DIVIDE_BY_ZERO job failure (Spark 4 default)
    and not a NaN that poisons rank windows and drift averages. A
    100 TB corpus WILL contain zero vectors."""
    import willa_spark.functions.similarity as S

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    sim = df.select(
        S.cosine(F.col("embedding"), F.array(F.lit(1.0), F.lit(0.0))).alias("s")
    ).collect()
    assert sim[0]["s"] is None and abs(sim[1]["s"] - 1.0) < 1e-9
    cells = {
        r["id"]: r["cell"]
        for r in S.ivf_index_frame(df, [[1.0, 0.0], [0.0, 1.0]]).collect()
    }
    assert cells[1] is None and cells[2] == 0
    # top-k over a corpus containing a zero vector: ranked last/absent,
    # never NaN-first
    q = spark.createDataFrame(
        [(9, [1.0, 0.0])], "query_id bigint, query_vec array<double>"
    )
    top = S.brute_force_topk(df, q, k=2).orderBy("rank").collect()
    assert top[0]["vec_id"] == 2


def test_keep_best_quality_policy(spark):
    """Quality-aware dedup policy: the highest-score member of each
    cluster survives (not the min id), top-score ties break to the
    lowest id, an all-NULL-score cluster falls back to the min-id
    canonical, and unclustered docs pass through untouched."""
    docs = spark.createDataFrame(
        [
            (1, 0.2), (2, 0.9),            # cluster A: 2 wins on score
            (3, 0.5), (4, 0.5), (5, 0.1),  # cluster B: tie 3/4 -> 3
            (6, None), (7, None),          # cluster C: all NULL -> 6
            (8, 0.0),                      # unclustered: survives
        ],
        "doc_id bigint, q double",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3), (5, 3), (6, 6), (7, 6)],
        "id bigint, cluster_id bigint",
    )
    kept = {
        r["doc_id"]
        for r in D.keep_best(docs, clusters, F.col("q")).collect()
    }
    assert kept == {2, 3, 6, 8}
    # min-id canonical would keep {1, 3, 6, 8} instead
    canon = {r["doc_id"] for r in D.keep_canonical(docs, clusters).collect()}
    assert canon == {1, 3, 6, 8}


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_kb_members = st.lists(
    st.tuples(
        st.integers(0, 3),                                  # cluster id
        st.one_of(st.none(), st.sampled_from([0.1, 0.5, 0.9])),  # score
    ),
    min_size=0,
    max_size=10,
)


@given(members=_kb_members, n_free=st.integers(0, 3))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_keep_best_property(spark, members, n_free):
    """keep_best ≡ the reference policy on ANY cluster/score shape:
    per cluster keep the min id among max-score members (all-NULL
    clusters: plain min id); unclustered docs always survive."""
    rows = [(i, c, q) for i, (c, q) in enumerate(members)]
    rows += [(100 + i, None, 0.3) for i in range(n_free)]  # unclustered
    df = spark.createDataFrame(
        [(i, q) for i, _c, q in rows], "doc_id bigint, q double"
    )
    clusters = spark.createDataFrame(
        [(i, c) for i, c, _q in rows if c is not None],
        "id bigint, cluster_id bigint",
    )
    got = {
        r["doc_id"] for r in D.keep_best(df, clusters, F.col("q")).collect()
    }
    # reference policy in plain python
    want = {i for i, c, _q in rows if c is None}
    by_cluster: dict = {}
    for i, c, q in rows:
        if c is not None:
            by_cluster.setdefault(c, []).append((i, q))
    for c, ms in by_cluster.items():
        scores = [q for _i, q in ms if q is not None]
        if scores:
            best = max(scores)
            want.add(min(i for i, q in ms if q == best))
        else:
            want.add(min(i for i, _q in ms))
    assert got == want


def test_audio_phash_reuses_hamming_family(spark):
    """The hamming machinery is media-agnostic: with_phash over
    DECODED AUDIO samples (injected fake codec) + hamming_block_pairs
    finds byte-identical planted audio twins at hamming 0 — no
    audio-specific dedup code needed."""
    from willa_spark.functions.multimodal import decode_audio, fake_audio_decoder, with_phash

    rows = [(i, bytes(f"pcm blob {i} {'y' * (i % 13)}", "utf8")) for i in range(20)]
    rows += [(1000 + i, rows[i][1]) for i in (0, 7, 14)]
    df = spark.createDataFrame(rows, "id bigint, data binary")
    sig = with_phash(
        decode_audio(df, decoder=fake_audio_decoder), "samples", "simhash"
    ).select("id", "simhash")
    pairs = D.hamming_block_pairs(sig, max_hamming=0, num_blocks=2)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert {(i, 1000 + i) for i in (0, 7, 14)} <= got


@pytest.fixture()
def vectors(spark):
    import math

    rows = []
    for i in range(20):
        base = [0.0] * 8
        base[i % 4] = 1.0
        base[4 + (i % 4)] = 0.5 if i < 10 else -0.5
        rows.append((i, [float(x) for x in base]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_brute_force_topk(spark, vectors):
    queries = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = S.brute_force_topk(vectors, queries, k=3)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert rows[0]["vec_id"] == 0 and abs(rows[0]["cosine_sim"] - 1.0) < 1e-6
    assert rows[1]["vec_id"] == 4  # same basis pattern as 0 (i%4==0, <10)
    assert len(rows) == 3


def test_lsh_topk_subset_of_exact(spark, vectors):
    queries = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {r["vec_id"] for r in S.brute_force_topk(vectors, queries, k=20).collect()}
    approx = S.lsh_topk(vectors, queries, k=5, n_planes=4, dim=8).collect()
    assert len(approx) >= 1  # the query's own bucket contains itself
    assert {r["vec_id"] for r in approx} <= exact
    assert any(r["vec_id"] == 0 and abs(r["cosine_sim"] - 1.0) < 1e-6 for r in approx)


def test_embedding_near_dups(spark, vectors):
    out = S.embedding_near_dups(vectors, threshold=0.999, n_planes=4, dim=8)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # vectors 0, 4, 8 are identical patterns → pairwise near-dups
    assert (0, 4) in pairs or (0, 8) in pairs or (4, 8) in pairs


def test_multimodal_decode_plumbing(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"abc")), (2, bytearray(b"")), (3, None)],
        "id bigint, data binary",
    )
    out = decode_images(df, binary_col="data", id_col="id", decoder=fake_image_decoder)
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["n_bytes"] == 3 and rows[1]["width"] == 4
    assert rows[2]["n_bytes"] == 0
    assert rows[3]["n_bytes"] == 0  # null-safe
    assert len(rows[1]["features"]) == 16


def test_resize_and_frame_sampling(spark):
    df = spark.createDataFrame(
        [(1, [float(i) for i in range(16)])], "id bigint, features array<double>"
    )
    resized = resize_features(df, target=4).collect()[0]["resized"]
    assert len(resized) == 4
    frames = spark.createDataFrame(
        [(1, [float(i) for i in range(30)])], "id bigint, frames array<double>"
    )
    sampled = sample_frames(frames, every_n=10).collect()[0]["sampled_frames"]
    assert sampled == [0.0, 10.0, 20.0]


def test_real_decoder_is_stubbed(spark):
    from willa_spark.functions.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_audio_decode_plumbing(spark):
    from willa_spark.functions.multimodal import (
        decode_audio,
        decode_audio_stub,
        fake_audio_decoder,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"wavdata")), (2, None)], "id bigint, data binary"
    )
    out = decode_audio(df, binary_col="data", id_col="id", decoder=fake_audio_decoder)
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["sample_rate"] == 16_000 and rows[1]["duration_ms"] == 7
    assert rows[2]["duration_ms"] == 0  # null-safe
    assert len(rows[1]["samples"]) == 8
    with pytest.raises(NotImplementedError):
        decode_audio_stub(b"RIFF")


# ---- plan-shape guardrails (the 100 TB contracts) --------------------

def test_global_join_is_broadcast(spark):
    """J7's contract: the dim side broadcasts — no shuffle of the fact
    stream. Verified on the physical plan, not just results."""
    from willa_spark.queries import QUERIES

    df = QUERIES["broadcast_enrich"](spark, "/root/testdata/sf0.001")
    assert uses_broadcast_join(df)


def test_filter_pushdown_reaches_scan(spark):
    from willa_spark.queries import QUERIES

    df = QUERIES["filter_map"](spark, "/root/testdata/sf0.001")
    filters = " ".join(pushed_filters(df))
    assert "event_type" in filters or "value" in filters


def test_pricing_summary_prunes_columns(spark):
    """Column pruning: the Q1 scan must not read all 11 lineitem
    columns for a 7-column aggregate."""
    from willa_spark.plans import physical_plan
    from willa_spark.queries import QUERIES

    plan = physical_plan(QUERIES["pricing_summary"](spark, "/root/testdata/sf0.001"))
    import re

    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, plan
    read_cols = [c.split("#")[0] for c in m.group(1).split(",") if c]
    assert "l_orderkey" not in read_cols and "l_partkey" not in read_cols
    assert len(read_cols) <= 7
    # and the shuffle is a partial aggregate: map-side combine present
    assert "partial_sum" in plan


def test_shipping_priority_plan(spark):
    """Q3 shape: filtered dims broadcast; the top-10 is a
    TakeOrderedAndProject (per-partition top-k), never a global sort."""
    from willa_spark.plans import physical_plan
    from willa_spark.queries import QUERIES

    plan = physical_plan(QUERIES["shipping_priority"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Sort [revenue_cents" not in plan  # no full global sort


def test_regional_supplier_volume_plan(spark):
    """Q5 shape: every dimension broadcasts — the only shuffles are the
    fact-fact join and the final 5-row aggregate."""
    from willa_spark.plans import count_exchanges, physical_plan
    from willa_spark.queries import QUERIES

    df = QUERIES["regional_supplier_volume"](spark, "/root/testdata/sf0.001")
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    # orders⋈lineitem (2 sides) + final groupBy ⇒ at most 3 exchanges
    assert count_exchanges(df) <= 3


def test_forecast_revenue_plan(spark):
    """Q6 shape: all four predicates reach the parquet reader and the
    scan reads only the four used columns; the aggregate is partial so
    the single shuffle moves one row per task."""
    import re

    from willa_spark.plans.inspect import formatted_plan
    from willa_spark.queries import QUERIES

    plan = formatted_plan(QUERIES["forecast_revenue"](spark, "/root/testdata/sf0.001"))
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed, plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed.group(1)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) == 4, plan
    assert "partial_sum" in plan


def test_late_shipment_priorities_plan(spark):
    """Q4 shape: EXISTS compiles to a LEFT SEMI join (stops probing on
    first match, lineitem columns never materialize downstream)."""
    from willa_spark.plans import physical_plan
    from willa_spark.queries import QUERIES

    plan = physical_plan(QUERIES["late_shipment_priorities"](spark, "/root/testdata/sf0.001"))
    assert "LeftSemi" in plan
    assert "partial_count" in plan


def test_top_parts_per_supplier_plan(spark):
    """Grouped top-k: the rank's window runs over the aggregated frame,
    and the window sort reuses the aggregate's suppkey partitioning —
    no second shuffle between agg and rank, no global sort."""
    from willa_spark.plans import physical_plan
    from willa_spark.queries import QUERIES

    df = QUERIES["top_parts_per_supplier"](spark, "/root/testdata/sf0.001")
    plan = physical_plan(df)
    assert "RunningWindowFunction" in plan or "Window" in plan
    assert "partial_sum" in plan


# ----------------------------------------------------------- clusters
def test_dup_clusters_chain_star_components(spark):
    """Min-label propagation must close transitive chains (a-b-c-d one
    cluster even though a-d never paired), handle stars, keep disjoint
    components apart, and exclude unpaired ids entirely."""
    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),        # chain -> cluster 1
            (10, 11), (10, 12), (10, 13),  # star  -> cluster 10
            (20, 21),                      # pair  -> cluster 20
        ],
        "id_a bigint, id_b bigint",
    )
    got = {(r["id"], r["cluster_id"]) for r in D.dup_clusters(pairs).collect()}
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10), (13, 10),
        (20, 20), (21, 20),
    }


def test_dup_clusters_long_chain_pointer_jumping(spark):
    """A 64-node path converges well inside the iteration budget —
    pointer jumping (label := label[label]) halves the distance to the
    root each round, so O(log n) rounds, not O(n)."""
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a bigint, id_b bigint"
    )
    got = D.dup_clusters(pairs, max_iters=12, driver_edge_cap=0).collect()
    assert len(got) == n + 1
    assert all(r["cluster_id"] == 0 for r in got)


def test_dup_clusters_hybrid_paths_identical(spark):
    """The bounded driver-side union-find fast path and the distributed
    min-label loop must return byte-identical clusterings — same ids,
    same min-id cluster labels — on a graph mixing chains, stars, and
    disjoint pairs."""
    edges = (
        [(i, i + 1) for i in range(0, 40)]            # long chain
        + [(100, 100 + j) for j in range(1, 8)]       # star
        + [(200, 201), (300, 301), (301, 302)]        # pair + triangle arm
        + [(300, 302)]                                # cycle edge
    )
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    fast = {(r["id"], r["cluster_id"]) for r in D.dup_clusters(pairs).collect()}
    dist = {
        (r["id"], r["cluster_id"])
        for r in D.dup_clusters(pairs, driver_edge_cap=0).collect()
    }
    assert fast == dist and len(fast) == 41 + 8 + 2 + 3


def test_dup_clusters_bidirectional_pairs_normalized(spark):
    """An input carrying BOTH orientations of each pair — (a,b) and
    (b,a) — must collapse to one edge (least/greatest normalization
    before distinct) and cluster identically on both execution paths.
    Without normalization the distinct kept both orientations and the
    bidirectional union doubled every per-round shuffle."""
    base = [(1, 2), (2, 3), (10, 11)]
    both = base + [(b, a) for a, b in base]
    pairs = spark.createDataFrame(both, "id_a bigint, id_b bigint")
    want = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    for cap in (200_000, 0):  # driver union-find path, distributed path
        got = {
            (r["id"], r["cluster_id"])
            for r in D.dup_clusters(pairs, driver_edge_cap=cap).collect()
        }
        assert got == want


def test_dup_clusters_leaves_session_conf_alone(spark):
    """dup_clusters must not mutate session-global shuffle-partition
    conf (a concurrent streaming micro-batch would bake the graph-sized
    value into its checkpointed state-store layout): shuffles are sized
    via explicit repartition, the conf is read-only, and an unusual
    session value neither breaks the operator nor gets clobbered."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")  # odd, non-default session value
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint"
        )
        got = {
            (r["id"], r["cluster_id"])
            for r in D.dup_clusters(pairs, driver_edge_cap=0).collect()
        }
        assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, prev)


def test_keep_canonical_after_clustering(spark, docs):
    """End-to-end dedup policy: minhash near-dup pairs -> clusters ->
    one canonical survivor per cluster. Docs 1/6 are exact dups (and
    2 a near-dup of 1); the min id survives, unpaired docs pass."""
    cands = D.minhash_candidate_pairs(docs, num_hashes=32, num_bands=16)
    pairs = D.verified_near_dups(docs, cands, threshold=0.5).select("id_a", "id_b")
    clusters = D.dup_clusters(pairs)
    by_id = {r["id"]: r["cluster_id"] for r in clusters.collect()}
    assert by_id[6] == 1  # exact dup clustered with canonical 1
    kept = {r["doc_id"] for r in D.keep_canonical(docs, clusters).collect()}
    assert 1 in kept and 6 not in kept
    assert {3, 4, 5, 7, 8} <= kept  # unpaired docs untouched


def test_embedding_near_dups_spill_path(spark, tmp_path):
    """The 100 TB spill path (bucketed frame written to storage, both
    self-join sides scan it) returns exactly the persist path's pairs."""
    import random

    rng = random.Random(7)
    base = [rng.gauss(0, 1) for _ in range(16)]
    near = [x + rng.gauss(0, 0.01) for x in base]
    far = [rng.gauss(0, 1) for _ in range(16)]
    emb = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "vec_id bigint, embedding array<double>"
    )
    kw = dict(threshold=0.9, n_planes=4, dim=16)
    mem = {(r["id_a"], r["id_b"]) for r in S.embedding_near_dups(emb, **kw).collect()}
    spill = {
        (r["id_a"], r["id_b"])
        for r in S.embedding_near_dups(
            emb, **kw, spill_dir=str(tmp_path / "buckets")
        ).collect()
    }
    assert mem == spill == {(1, 2)}


def test_winnow_overlap_pairs_failure_releases_cache(spark):
    """A failing ``winnow_overlap_pairs(df_cap=...)`` call must not
    leave its persisted fingerprint pass in the CacheManager: a
    session that retries the call would otherwise accumulate one
    cached frame per failure."""
    rows = [(i, f"tok{i} alpha bravo charlie delta echo {i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "text",
        F.when(
            F.col("doc_id") == 17, F.raise_error(F.lit("poisoned row"))
        ).otherwise(F.col("text")),
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache.isEmpty()
    for _ in range(3):
        with pytest.raises(Exception, match="poisoned row"):
            D.winnow_overlap_pairs(df, df_cap=10).collect()
    assert cache.isEmpty(), "a failed call leaked its cached frame"


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee (Schleimer et al. §2): documents sharing a
    token run of >= k + window - 1 tokens share at least one
    fingerprint; identical docs share all; disjoint docs share none.
    Also: the whole computation is a map-only Column expression."""
    k, w = 3, 4
    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 >= k+w-1 = 6
    rows = [
        (1, f"intro words here {shared} closing remarks"),
        (2, f"{shared} totally different tail content follows now"),
        (3, "unrelated text with no overlap whatsoever at all"),
        (4, f"intro words here {shared} closing remarks"),  # == doc 1
        (5, "tiny doc"),  # shorter than k: no shingles -> no fingerprints
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: set(r["fp"])
        for r in df.select(
            "doc_id", TXT.winnow_fingerprints(F.col("text"), k, w).alias("fp")
        ).collect()
    }
    assert out[1] & out[2], "shared run must contribute a common fingerprint"
    assert out[1] == out[4], "identical docs share all fingerprints"
    assert not (out[1] & out[3]), "disjoint docs share none"
    assert out[5] == set(), "sub-k doc has no fingerprints"
    # short-but->=k doc still emits its global-min fallback
    short = spark.createDataFrame([(6, "one two three four")], ["doc_id", "text"])
    fp = short.select(TXT.winnow_fingerprints(F.col("text"), k, w).alias("fp")).collect()[0]["fp"]
    assert len(fp) == 1

    from willa_spark.plans.inspect import count_exchanges

    assert count_exchanges(df.select(TXT.winnow_fingerprints(F.col("text")))) == 0


def test_dup_clusters_hybrid_property_random_graphs(spark):
    """Property: on random edge sets the driver-side union-find fast
    path and the distributed min-label loop agree exactly (node set,
    min-id labels) — the hybrid switch can never change a clustering."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 30), st.integers(0, 30)),
            min_size=1,
            max_size=40,
        )
    )
    def check(edges):
        es = [(a, b) for a, b in edges if a != b]
        if not es:
            return
        pairs = spark.createDataFrame(es, "id_a bigint, id_b bigint")
        fast = {(r["id"], r["cluster_id"]) for r in D.dup_clusters(pairs).collect()}
        dist = {
            (r["id"], r["cluster_id"])
            for r in D.dup_clusters(pairs, driver_edge_cap=0).collect()
        }
        assert fast == dist

    check()


def test_with_phash_truncates_features_to_n_bits(spark):
    """ADVICE r6: a decoder emitting MORE than n_bits features must be
    truncated consistently — the threshold mean is computed over the
    same leading n_bits elements that get hashed, so tail elements
    can neither skew the mean nor flip any bit."""
    from willa_spark.functions.multimodal import with_phash

    head = [float(x) for x in ([0.0, 1.0] * 32)]  # mean 0.5, alternating bits
    rows = [
        (1, head),
        (2, head + [1000.0] * 64),  # huge tail: mean-over-whole would zero all bits
        (3, head + [-1000.0] * 64),
    ]
    df = spark.createDataFrame(rows, "id bigint, features array<double>")
    got = {
        r["id"]: r["phash"]
        for r in with_phash(df, "features", "phash").collect()
    }
    assert got[1] == got[2] == got[3]
    assert got[1] != 0  # the alternating pattern actually set bits


def test_audio_fingerprint_pairs_planted_and_edges(spark):
    """The audio member of the hamming dedup family: byte-identical
    planted clips are found at hamming 0 through decode → 64-frame
    energy envelope → threshold fingerprint → pigeonhole block join;
    clips SHORTER than 64 samples and EMPTY payloads neither crash
    nor break determinism (identical bytes always pair)."""
    import hashlib

    from willa_spark.functions.multimodal import (
        audio_fingerprint_pairs,
        fake_audio_decoder_pcm,
    )

    payload = lambda i: hashlib.sha256(str(i).encode()).digest() * 4  # 128 "samples"
    rows = [(i, payload(i)) for i in range(10)]
    rows += [(100 + i, payload(i)) for i in (0, 4)]      # planted twins
    rows += [(200, b"tiny"), (201, b"tiny")]              # < 64 samples, identical
    rows += [(300, b""), (301, b"")]                      # empty payloads
    df = spark.createDataFrame(rows, "id bigint, data binary")
    pairs = audio_fingerprint_pairs(df, max_hamming=3, decoder=fake_audio_decoder_pcm)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert {(0, 100), (4, 104), (200, 201), (300, 301)} <= got
    # distinct digest payloads must NOT collide at radius 3
    assert not any(a < 100 and b < 100 for a, b in got)


def test_audio_frame_energies_envelope(spark):
    """Frame energies are the mean |amplitude| per equal frame: a
    loud-then-quiet clip yields a strictly decreasing two-frame
    envelope, and frames past a short clip's end contribute 0."""
    from willa_spark.functions.multimodal import audio_frame_energies

    df = spark.createDataFrame(
        [(1, [8.0, -8.0, 1.0, -1.0]), (2, [3.0, -3.0])],
        "id bigint, samples array<double>",
    )
    out = {
        r["id"]: r["features"]
        for r in audio_frame_energies(df, n_frames=4).collect()
    }
    # n=4 samples, 4 frames -> frame_len=1: each frame is one |x|
    assert out[1] == [8.0, 8.0, 1.0, 1.0]
    # n=2 samples: frames past the clip's end are 0.0
    assert out[2] == [3.0, 3.0, 0.0, 0.0]


def test_video_fingerprint_pairs_planted_and_edges(spark):
    """The video member of the multimodal dedup family: byte-identical
    planted clips share EVERY frame hash (decode → per-frame
    threshold hash → fingerprint equi-join); distinct clips don't
    reach min_shared_frames; empty payloads (one all-zero frame) pair
    only at min_shared_frames=1; frame sampling (every_n) still finds
    full twins."""
    import hashlib

    from willa_spark.functions.multimodal import (
        fake_video_decoder,
        video_fingerprint_pairs,
    )

    payload = lambda i: hashlib.sha256(str(i).encode()).digest() * 6  # 5 frames
    rows = [(i, payload(i)) for i in range(8)]
    rows += [(100, payload(0)), (104, payload(4))]  # byte-identical twins
    rows += [(200, b""), (201, b"")]                # empty payloads
    df = spark.createDataFrame(rows, "id bigint, data binary")

    pairs = video_fingerprint_pairs(
        df, min_shared_frames=2, decoder=fake_video_decoder
    )
    got = {(r["id_a"], r["id_b"]): r["n_shared_frames"] for r in pairs.collect()}
    assert got.get((0, 100)) == 5 and got.get((4, 104)) == 5
    assert not any(a < 100 and b < 100 for a, b in got)  # no false pairs
    assert (200, 201) not in got  # 1 shared zero-frame < 2

    # at threshold 1 the empty twins pair too (the recall row's mode)
    loose = video_fingerprint_pairs(
        df, min_shared_frames=1, frame_df_cap=None, decoder=fake_video_decoder
    )
    got1 = {(r["id_a"], r["id_b"]) for r in loose.collect()}
    assert (200, 201) in got1

    # sampling every 2nd frame: twins still share ceil(5/2)=3 >= 2
    sampled = video_fingerprint_pairs(
        df, min_shared_frames=2, every_n=2, decoder=fake_video_decoder
    )
    gots = {(r["id_a"], r["id_b"]): r["n_shared_frames"] for r in sampled.collect()}
    assert gots.get((0, 100)) == 3


def test_ivf_bucketed_index_zero_shuffle_serving(spark, tmp_path):
    """The 100 TB IVF serving layout: an inverted file persisted
    bucketed-by-cell serves probes with NO exchange on the index side.
    Results must equal the in-memory ivf_topk exactly, and with the
    broadcast disabled the cell-key join shows ONE exchange (the query
    side) instead of two — the bucketed scan supplies the index side's
    partitioning from storage."""
    from willa_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    centroids = S.train_centroids(emb, n_centroids=8, n_iters=1)
    spark.sql("DROP TABLE IF EXISTS ivf_bucketed_test")
    write_bucketed(
        S.ivf_index_frame(emb, centroids), "ivf_bucketed_test", "cell", num_buckets=4
    )
    try:
        want = sorted(
            tuple(r)
            for r in S.ivf_topk(emb, queries, centroids, k=10, n_probe=2).collect()
        )
        got_df = S.ivf_probe_topk(
            spark.table("ivf_bucketed_test"), queries, centroids, k=10, n_probe=2,
            broadcast_queries=False,
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            got = sorted(tuple(r) for r in got_df.collect())
            plan = got_df._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert got == want
        assert "Bucketed: true" in plan, plan
        # AQE's final-plan string can print a REUSED exchange subtree
        # more than once, so count DISTINCT exchanged attributes: with
        # the bucketed index only the query side's __cell exchanges
        # (one exprId); an unbucketed index would add its own
        import re as _re

        cell_exchanges = {
            _re.search(r"Exchange hashpartitioning\(__cell#(\d+)", l).group(1)
            for l in plan.splitlines()
            if "Exchange hashpartitioning(__cell" in l
        }
        assert len(cell_exchanges) == 1, plan  # query side only
    finally:
        spark.sql("DROP TABLE IF EXISTS ivf_bucketed_test")


def test_lsh_bucketed_index_zero_shuffle_serving(spark, tmp_path):
    """The LSH twin of the bucketed-IVF serving test: identical
    results to lsh_topk, bucketed scan, and with broadcast disabled a
    single exchanged attribute on the bucket join key (the query
    side's)."""
    from willa_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    spark.sql("DROP TABLE IF EXISTS lsh_bucketed_test")
    write_bucketed(
        S.lsh_index_frame(emb, n_planes=4, n_tables=4),
        "lsh_bucketed_test",
        "bucket",
        num_buckets=4,
    )
    try:
        want = sorted(
            tuple(r)
            for r in S.lsh_topk(
                emb, queries, k=10, n_planes=4, n_tables=4, n_probes=1
            ).collect()
        )
        got_df = S.lsh_probe_topk(
            spark.table("lsh_bucketed_test"), queries, k=10, n_planes=4,
            n_tables=4, n_probes=1, broadcast_queries=False,
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            got = sorted(tuple(r) for r in got_df.collect())
            plan = got_df._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert got == want
        assert "Bucketed: true" in plan, plan
        import re as _re

        tb_exchanges = {
            _re.search(r"Exchange hashpartitioning\(__tb#(\d+)", l).group(1)
            for l in plan.splitlines()
            if "Exchange hashpartitioning(__tb" in l
        }
        assert len(tb_exchanges) == 1, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS lsh_bucketed_test")


def test_audio_frame_energies_cover_clip_tail(spark):
    """Frames must cover the WHOLE clip: two clips sharing their first
    64 samples but differing only in the tail must fingerprint apart
    (the floor-division frame length hashed only the leading samples,
    silently merging tail-divergent clips as 'duplicates')."""
    import hashlib

    from willa_spark.functions.multimodal import (
        audio_fingerprint_pairs,
        fake_audio_decoder_pcm,
    )

    head = hashlib.sha256(b"head").digest() * 2  # 64 bytes
    a = head + hashlib.sha256(b"tail-a").digest() + b"\x00" * 4  # 100 bytes
    b = head + hashlib.sha256(b"tail-b").digest() + b"\xff" * 4
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, a)], "id bigint, data binary"
    )
    pairs = audio_fingerprint_pairs(df, max_hamming=0, decoder=fake_audio_decoder_pcm)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 3) in got      # byte-identical clips still pair
    assert (1, 2) not in got  # tail-divergent clips must NOT


def test_audio_segment_pairs_precision_one_shared_window(spark):
    """The containment precision dual at pytest level (the gate rows
    cover the hamming + video families; gate slots priced this one
    here): a clip sharing exactly ONE hop-aligned window with another
    sits at min_shared_segments - 1 and must NOT pair at the family
    threshold (2) while pairing at the recall threshold (1) — pinning
    the shared-count filter from both sides on the same input."""
    import hashlib

    from willa_spark.functions.multimodal import (
        audio_segment_pairs,
        fake_audio_decoder_pcm,
    )

    blk = lambda tag, k: hashlib.sha256(f"{tag}-{k}".encode()).digest()
    # clips share bytes [0:64) (= the window at offset 0) and nothing else;
    # remaining windows are pairwise-distinct non-periodic blocks
    shared = blk("s", 0) + blk("s", 1)
    a = shared + b"".join(blk("a", k) for k in range(4))
    b = shared + b"".join(blk("b", k) for k in range(4))
    df = spark.createDataFrame([(1, a), (2, b)], "id bigint, data binary")
    at2 = audio_segment_pairs(
        df, min_shared_segments=2, seg_df_cap=None, decoder=fake_audio_decoder_pcm
    ).collect()
    assert at2 == [], f"one shared window must not pair at threshold 2: {at2}"
    at1 = {
        (r["id_a"], r["id_b"], r["n_shared_segments"])
        for r in audio_segment_pairs(
            df, min_shared_segments=1, seg_df_cap=None, decoder=fake_audio_decoder_pcm
        ).collect()
    }
    assert at1 == {(1, 2, 1)}, at1


def _adversarial_arrays():
    """Float arrays chosen to expose any fold-order or edge-semantics
    divergence between the Column kernels and their numpy twins:
    catastrophic-cancellation patterns (pairwise vs sequential
    summation give DIFFERENT means here), signed zeros, subnormals,
    non-finites, and every length class around the 64-element slice
    and frame boundaries."""
    import random

    rng = random.Random(0xA5A5)
    arrs = [
        [],
        [0.0],
        [-0.0],
        [-0.0] * 64,
        [5e-324, -5e-324] * 32,          # subnormals
        [1e16, 1.0, -1e16, 1.0] * 16,    # fold-order sensitive
        [0.1] * 63,
        [0.1, 0.2] * 32,                 # exactly 64
        [0.3] * 65,                      # truncation to n_bits
        [1e308, 1e308, -1e308],          # overflow to inf mid-fold
        [float("inf")] * 3,
        [float("-inf"), 1.0, 2.0],
        [float("nan"), 1.0, 2.0],
        [1.0, float("nan")],
        None,                            # NULL array
    ]
    for n in (1, 2, 63, 64, 65, 96, 97, 127, 128, 129, 200, 201, 300):
        arrs.append([rng.uniform(-1e3, 1e3) for _ in range(n)])
        arrs.append(
            [rng.choice([1.0, -1.0]) * 10.0 ** rng.uniform(-300, 300) for _ in range(n)]
        )
    return arrs


def test_np_kernels_bit_identical_to_columns(spark):
    """The r16 float-fold parity proof (the r15 deferral's stated
    precondition): the numpy twins that now run inside the fused
    decode passes must be bit-identical to the Column-expression
    kernels — phash over raw features, the energy envelope → phash
    composition, and the sliding-window segment tiling — on
    adversarial inputs (cancellation patterns where pairwise
    summation would flip bits, signed zeros, subnormals,
    non-finites, NULL, every slice/frame boundary length). Hashes
    compare as exact int64; segment fps as exact ordered lists."""
    from willa_spark.functions.multimodal import (
        _np_frame_energies,
        _np_phash_bits,
        _np_segment_fps,
        frame_energies,
        phash_bits,
    )

    arrs = _adversarial_arrays()
    df = spark.createDataFrame(
        [(i, a) for i, a in enumerate(arrs)], "id bigint, arr array<double>"
    )
    got = {
        r["id"]: (r["ph"], r["eph"], r["segs"])
        for r in df.select(
            "id",
            phash_bits(F.col("arr")).alias("ph"),
            phash_bits(frame_energies(F.col("arr"))).alias("eph"),
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.greatest(
                            F.ceil(
                                (F.coalesce(F.size("arr"), F.lit(0)) - F.lit(64))
                                / F.lit(32)
                            ).cast("int"),
                            F.lit(0),
                        ),
                    ),
                    lambda w: F.element_at(
                        F.transform(
                            F.array(F.slice(F.col("arr"), w * 32 + 1, 64)),
                            lambda seg: phash_bits(frame_energies(seg)),
                        ),
                        1,
                    ),
                )
            ).alias("segs"),
        ).collect()
    }
    for i, a in enumerate(arrs):
        ph, eph, segs = got[i]
        assert ph == _np_phash_bits(a), (i, a, ph)
        np_eph = 0 if a is None else _np_phash_bits(_np_frame_energies(a))
        # Column composition over a NULL array yields a NULL-element
        # envelope, which also hashes to 0 — pin that too
        if a is None:
            assert eph == 0, eph
        else:
            assert eph == np_eph, (i, a, eph, np_eph)
        if a is not None:
            assert segs == _np_segment_fps(a), (i, a, segs)


@pytest.mark.parametrize("family", ["image", "audio_fp", "audio_seg", "video"])
def test_fused_decode_sig_frames_match_column_chains(spark, family):
    """End-to-end differential for the fused decode→signature
    builders: on byte payloads of every interesting length (empty,
    sub-window, window-boundary, multi-frame), the fused mapInPandas
    frame must emit EXACTLY the rows of the original decode +
    Column-kernel chain — (id, sig) multisets equal per family."""
    import hashlib

    from willa_spark.functions import multimodal as MM

    payloads = [
        (0, b""),
        (1, b"x"),
        (2, b"tiny"),
        (3, hashlib.sha256(b"a").digest()),            # 32
        (4, hashlib.sha256(b"b").digest() * 2),        # 64
        (5, hashlib.sha256(b"c").digest() * 2 + b"q"), # 65
        (6, hashlib.sha256(b"d").digest() * 4),        # 128
        (7, hashlib.sha256(b"e").digest() * 6 + b"zz"),# 194
        (8, bytes(range(200))),
        (9, b"\x00" * 100),
        (10, b"\xff" * 131),
    ]
    df = spark.createDataFrame(payloads, "id bigint, data binary")
    if family == "image":
        fused = MM.decode_image_phash_frame(df, decoder=MM.fake_image_decoder_8x8)
        ref = MM.with_phash(
            MM.decode_images(df, decoder=MM.fake_image_decoder_8x8),
            "features",
            "simhash",
        ).select("id", "simhash")
    elif family == "audio_fp":
        fused = MM.decode_audio_fp_frame(df, decoder=MM.fake_audio_decoder_pcm)
        ref = MM.with_phash(
            MM.audio_frame_energies(
                MM.decode_audio(df, decoder=MM.fake_audio_decoder_pcm),
                "samples",
                "features",
            ),
            "features",
            "simhash",
        ).select("id", "simhash")
    elif family == "audio_seg":
        fused = MM.decode_audio_segment_fp_frame(
            df, decoder=MM.fake_audio_decoder_pcm
        )
        ref = MM.audio_segment_fp_frame(
            MM.decode_audio(df, decoder=MM.fake_audio_decoder_pcm)
        )
    else:
        fused = MM.decode_video_fp_frame(df, decoder=MM.fake_video_decoder)
        ref = MM.video_frame_hash_frame(
            MM.decode_video(df, decoder=MM.fake_video_decoder)
        )
    assert sorted(map(tuple, fused.collect())) == sorted(map(tuple, ref.collect()))


# ------------------------------------------- duplicate n-gram spans
def test_dup_ngram_spans_planted_and_merge(spark):
    """Two docs share a verbatim 9-token run (all its 5-grams occur
    twice corpus-wide): each gets exactly ONE maximal span covering the
    run — the overlapping duplicated 5-grams merge via the islands rule
    — and the unique doc gets none. A within-doc verbatim repeat also
    counts (occurrences, not distinct docs)."""
    run = "lorem ipsum dolor sit amet consectetur adipiscing elit sed"  # 9 tokens
    rows = [
        (1, "alpha bravo " + run + " charlie delta"),
        (2, run + " echo foxtrot golf hotel india"),
        (3, "unique words only here nothing repeats anywhere at all"),
        # 4: the same 5-gram twice WITHIN one doc, separated by > n
        (4, "red orange yellow green blue aa bb cc dd ee ff red orange yellow green blue"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in D.dup_ngram_spans(docs, n=5).collect()
    }
    by_doc = {}
    for d, s, e, t in spans:
        by_doc.setdefault(d, []).append((s, e, t))
    # doc 1: run occupies tokens 2..10 -> one merged span
    assert by_doc[1] == [(2, 10, 9)]
    # doc 2: run occupies tokens 0..8
    assert by_doc[2] == [(0, 8, 9)]
    assert 3 not in by_doc
    # doc 4: both occurrences of its internal repeat are spans
    assert sorted(by_doc[4]) == [(0, 4, 5), (11, 15, 5)]


def test_mask_dup_spans_removes_exactly_the_spans(spark):
    run = "lorem ipsum dolor sit amet consectetur adipiscing elit sed"
    rows = [
        (1, "Alpha Bravo " + run + " Charlie Delta"),
        (3, "Unique Words Only Here Nothing Repeats Anywhere At All"),
        (9, run),  # the whole doc is one span -> masked to empty
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    spans = D.dup_ngram_spans(docs, n=5)
    out = {
        r["doc_id"]: r["text"]
        for r in D.mask_dup_spans(docs, spans).collect()
    }
    # masked docs are rebuilt from the normalized token stream
    assert out[1] == "alpha bravo charlie delta"
    assert out[9] == ""
    # span-free docs keep their ORIGINAL text verbatim (case intact)
    assert out[3] == "Unique Words Only Here Nothing Repeats Anywhere At All"


def test_dup_ngram_spans_duckdb_oracle_parity(spark, tmp_path):
    """The spans query against a pure-SQL DuckDB oracle over the real
    sf0.001 documents table — the parity form a driver-gate
    registration will use (grouping on raw n-gram strings; Spark's
    xxhash64 grouping is value-identical absent 64-bit collisions)."""
    import duckdb

    from willa_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in D.dup_ngram_spans(docs, n=5).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    oracle = con.execute(
        """
        WITH toks AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok,
                 generate_subscripts(regexp_split_to_array(lower(trim(text)), '\\s+'), 1) - 1 AS pos
          FROM documents
        ), grams AS (
          SELECT doc_id, pos,
                 tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
                     || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w AS g,
                 lead(tok, 4) OVER w IS NOT NULL AS full_gram
          FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ), dup AS (
          SELECT g FROM grams WHERE full_gram GROUP BY g HAVING count(*) >= 2
        ), hits AS (
          SELECT doc_id, pos FROM grams WHERE full_gram AND g IN (SELECT g FROM dup)
        ), flagged AS (
          SELECT doc_id, pos,
                 CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                       OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
                      THEN 1 ELSE 0 END AS new_island
          FROM hits
        ), isl AS (
          SELECT doc_id, pos,
                 sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM flagged
        )
        SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end,
               max(pos) + 4 - min(pos) + 1 AS span_tokens
        FROM isl GROUP BY doc_id, island
        ORDER BY doc_id, span_start
        """
    ).fetchall()
    assert got == [tuple(r) for r in oracle]
    assert len(got) > 0, "sf0.001 documents contain no duplicated runs — weak test"


# --------------------------------------------------- BM25 retrieval
def test_bm25_ranks_by_term_coverage_and_rarity(spark):
    """A doc matching all three query terms outranks one matching two,
    which outranks one matching one; docs sharing no term are absent;
    and a corpus-ubiquitous term contributes ~nothing (idf -> ln(1+eps))
    so rare-term matches dominate."""
    from willa_spark.functions import retrieval as R

    rows = [
        (1, "zebra quartz nimbus filler filler filler"),
        (2, "zebra quartz pad pad pad pad"),
        (3, "zebra pad pad pad pad pad"),
        (4, "nothing shared here at all ok"),
        # 'common' appears in every doc below AND in the query of test 2
        (5, "common alpha beta gamma delta eps"),
        (6, "common zeta eta theta iota kappa"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    queries = spark.createDataFrame(
        [(100, ["zebra", "quartz", "nimbus"])],
        "query_id bigint, terms array<string>",
    )
    got = R.bm25_topk(docs, queries, k=10).collect()
    ranked = [r["doc_id"] for r in sorted(got, key=lambda r: r["rank"])]
    assert ranked == [1, 2, 3]  # coverage order; 4/5/6 absent

    # rarity dominates: one rare-term match beats one ubiquitous-term
    # match even at equal coverage
    docs2 = spark.createDataFrame(
        [(i, "common filler%d pad pad" % i) for i in range(1, 9)]
        + [(9, "rareterm pad pad pad"), (10, "common pad pad pad")],
        "doc_id bigint, text string",
    )
    q2 = spark.createDataFrame(
        [(200, ["rareterm", "common"])], "query_id bigint, terms array<string>"
    )
    got2 = {r["doc_id"]: r["rank"] for r in R.bm25_topk(docs2, q2, k=10).collect()}
    assert got2[9] == 1  # the rare-term doc wins


def test_bm25_scoring_plan_broadcasts_query_side(spark):
    """The inverted-index access pattern: the query-term semi-join, the
    df join, and the stats join must all broadcast — a shuffle there
    would make scoring cost corpus-shaped instead of query-shaped."""
    from willa_spark.functions import retrieval as R
    from willa_spark.plans import uses_broadcast_join

    docs = spark.createDataFrame(
        [(i, f"tok{i} alpha beta") for i in range(50)],
        "doc_id bigint, text string",
    )
    q = spark.createDataFrame(
        [(1, ["alpha", "tok7"])], "query_id bigint, terms array<string>"
    )
    scores = R.bm25_scores(docs, q)
    assert uses_broadcast_join(scores)
    assert {r["doc_id"] for r in scores.filter(F.col("query_id") == 1).collect()} >= {7}


def test_bm25_bucketed_postings_zero_shuffle_serving(spark):
    """The retrieval twin of the bucketed-IVF serving test: a postings
    table persisted bucketed-by-term serves BM25 with ZERO index-side
    exchanges (every query operand broadcasts; the per-term df
    aggregation is satisfied by the bucketed layout), and results equal
    the on-the-fly bm25_topk exactly."""
    from willa_spark.functions import retrieval as R
    from willa_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    queries = docs.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.array_distinct(F.slice(toks, 1, 5)).alias("terms"),
    )
    spark.sql("DROP TABLE IF EXISTS bm25_bucketed_test")
    spark.sql("DROP TABLE IF EXISTS bm25_bucketed_test_stats")
    R.save_postings_bucketed(docs, "bm25_bucketed_test", num_buckets=4)
    try:
        want = sorted(tuple(r) for r in R.bm25_topk(docs, queries, k=5).collect())
        got_df = R.bm25_topk_indexed(spark, "bm25_bucketed_test", queries, k=5)
        got = sorted(tuple(r) for r in got_df.collect())
        assert got == want
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan
        # the INDEX side never exchanges: no Exchange is keyed on a
        # term exprId produced by the bucketed table's scans — the df
        # aggregation's partial->final pair runs directly over the
        # bucketed layout. (The tiny query-side terms-distinct DOES
        # exchange, once per un-reused subtree — query-shaped cost,
        # different exprIds.) An unbucketed index fails this: its df
        # aggregation exchanges on the scan's own term attribute.
        import re as _re

        scan_term_ids = {
            m.group(1)
            for l in plan.splitlines()
            if "FileScan parquet" in l and "bm25_bucketed_test[" in l
            for m in _re.finditer(r"term#(\d+)", l)
        }
        exchanged_ids = {
            m.group(1)
            for m in _re.finditer(r"Exchange hashpartitioning\(term#(\d+)", plan)
        }
        assert scan_term_ids, plan
        assert not (scan_term_ids & exchanged_ids), plan
    finally:
        spark.sql("DROP TABLE IF EXISTS bm25_bucketed_test")
        spark.sql("DROP TABLE IF EXISTS bm25_bucketed_test_stats")


def test_dup_ngram_spans_oracle_parity_edge_whitespace(spark, tmp_path):
    """Documents with non-space edge whitespace (trim strips spaces
    only, in BOTH engines) leave an empty edge token in the unfiltered
    split — the case where a filtered oracle tokenizer would shift
    every gram position off the Spark side's. Pins the registered
    oracle's tokenizer choice (_RAW_TOKS_SQL, unfiltered) on a corpus
    built to hit it."""
    import duckdb

    run = "lorem ipsum dolor sit amet consectetur adipiscing elit sed"
    rows = [
        (1, "alpha bravo " + run + "\n"),        # trailing newline
        (2, "\t" + run + " echo foxtrot"),        # leading tab
        (3, "unique words only here nothing repeats anywhere at all"),
    ]
    pq = os.path.join(str(tmp_path), "docs.parquet")
    spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(1).write.parquet(pq)

    docs = spark.read.parquet(pq)
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in D.dup_ngram_spans(docs, n=5).collect()
    )
    assert got, "the planted run must be found"

    from willa_spark.queries import ORACLE_SQL

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}/*.parquet')"
    )
    oracle = sorted(
        tuple(r)
        for r in con.execute(
            ORACLE_SQL["dup_ngram_spans"] + " ORDER BY doc_id, span_start"
        ).fetchall()
    )
    assert got == oracle


def test_rrf_fuse_hand_values_and_n_systems(spark):
    """RRF on a hand fixture: d2 ranked by both systems beats d1/d3
    ranked by one each; scores equal the paper formula rounded to 6dp;
    n_systems counts contributing lists."""
    from willa_spark.functions import retrieval as R

    sys_a = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2)], "query_id long, doc_id long, rank long"
    )
    sys_b = spark.createDataFrame(
        [(1, 20, 1), (1, 30, 2)], "query_id long, doc_id long, rank long"
    )
    got = {
        r["doc_id"]: (r["rank"], r["rrf_score"], r["n_systems"])
        for r in R.rrf_fuse([sys_a, sys_b]).collect()
    }
    assert got[20] == (1, round(1 / 61 + 1 / 62, 6), 2)
    assert got[10] == (2, round(1 / 61, 6), 1)
    assert got[30] == (3, round(1 / 62, 6), 1)


def test_rrf_fuse_system_order_invariant_and_tiebreak(spark):
    """Fusion is a sum — permuting the input list changes nothing; and
    two docs with IDENTICAL fused scores (same rank, disjoint systems)
    order by doc_id (the deterministic-hash rule)."""
    from willa_spark.functions import retrieval as R

    sys_a = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2)], "query_id long, doc_id long, rank long"
    )
    sys_b = spark.createDataFrame(
        [(1, 30, 1), (1, 20, 2)], "query_id long, doc_id long, rank long"
    )
    ab = sorted(tuple(r) for r in R.rrf_fuse([sys_a, sys_b]).collect())
    ba = sorted(tuple(r) for r in R.rrf_fuse([sys_b, sys_a]).collect())
    assert ab == ba
    ranked = {r["doc_id"]: r["rank"] for r in R.rrf_fuse([sys_a, sys_b]).collect()}
    # 10 and 30 both scored 1/61 exactly — doc_id breaks the tie
    assert ranked[20] == 1 and ranked[10] == 2 and ranked[30] == 3


def test_rrf_fuse_k_filter_and_empty_guard(spark):
    from willa_spark.functions import retrieval as R
    import pytest as _pytest

    sys_a = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2), (1, 30, 3)],
        "query_id long, doc_id long, rank long",
    )
    assert R.rrf_fuse([sys_a], k=2).count() == 2
    with _pytest.raises(ValueError):
        R.rrf_fuse([])


def test_hybrid_rrf_oracle_parity(spark):
    """The r10/r11 registration candidate, parity-pinned NOW (the
    parked-entry de-risking discipline): queries.q_hybrid_rrf_topk vs
    its full DuckDB oracle — BM25 and exact-cosine rank lists fused by
    RRF must hash-match across engines (verified green at sf0.001 AND
    sf0.01 when written; the pin runs the small corpus)."""
    import duckdb

    from willa_spark.queries import HYBRID_RRF_ORACLE, q_hybrid_rrf_topk

    sf_dir = "/root/testdata/sf0.001"
    got = sorted(tuple(r) for r in q_hybrid_rrf_topk(spark, sf_dir).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(HYBRID_RRF_ORACLE).fetchall())
    assert len(got) == len(want) > 0
    assert got == want


def test_rrf_fuse_accepts_ivf_topk_frames(spark):
    """The family-agnostic contract, driven for the IVF arm too (the
    bm25 arm is the oracle row, the LSH arm the streaming test): an
    ivf_topk ranking fuses through rrf_fuse with nothing but the id
    rename, and the self-query doc (cosine rank 1 in its own cell)
    lands in every fused top-5."""
    from willa_spark.functions import retrieval as R
    from willa_spark.functions import similarity as S
    from willa_spark.sources import read_table

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
    cents = S.train_centroids(emb, n_centroids=8, n_iters=1)
    ivf = S.ivf_topk(
        emb, queries.select("query_id", "query_vec"), cents, k=5, n_probe=2
    ).select("query_id", F.col("vec_id").alias("doc_id"), "rank")
    lex = R.bm25_topk(docs, queries.select("query_id", "terms"), k=5)
    fused = R.rrf_fuse([lex, ivf], k=5)
    rows = fused.collect()
    nq = queries.count()
    assert len(rows) == 5 * nq
    self_hits = {r["query_id"] for r in rows if r["query_id"] == r["doc_id"]}
    assert len(self_hits) == nq


def test_chunk_documents_tail_overlap_and_edges(spark):
    """Chunk arithmetic: stride = size - overlap, last chunk reaches
    the end (ceiling — a floor drops tails), consecutive chunks share
    exactly `overlap` tokens, short docs yield themselves, text is
    preserved verbatim (no lowercasing), bad geometry fails loud."""
    from willa_spark.functions.text import chunk_documents

    toks = [f"T{i}" for i in range(10)]
    docs = spark.createDataFrame(
        [(0, " ".join(toks)), (1, "A b"), (2, "")],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_tokens"], r["chunk_text"])
        for r in chunk_documents(docs, chunk_size=4, overlap=1).collect()
    }
    # doc 0: 10 tokens, stride 3 -> starts 0,3,6 cover to 9? 6+4=10 ✓
    assert rows[(0, 0)] == (4, "T0 T1 T2 T3")
    assert rows[(0, 1)] == (4, "T3 T4 T5 T6")
    assert rows[(0, 2)] == (4, "T6 T7 T8 T9")
    assert (0, 3) not in rows
    # overlap: chunk i's last token == chunk i+1's first
    assert rows[(0, 0)][1].split()[-1] == rows[(0, 1)][1].split()[0]
    # short doc: one chunk, itself, case preserved
    assert rows[(1, 0)] == (2, "A b")
    # blank doc: one chunk, ZERO tokens (split('')'s phantom '' must
    # not count toward token budgets — r9 advice), empty text
    assert rows[(2, 0)] == (0, "")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="chunk_documents"):
        chunk_documents(docs, chunk_size=4, overlap=4)


def test_streaming_chunk_step_congruent_with_batch(spark):
    """Frozen geometry => the union of per-batch chunk rows over ANY
    batch split equals chunk_documents over the full corpus exactly
    (chunking is a pure per-doc function of the config); blank/NULL
    docs keep their zero-token chunk row inside each batch; geometry
    errors fail at step construction, never mid-stream."""
    import pytest as _pytest

    from willa_spark.functions.text import chunk_documents
    from willa_spark.streaming.text import chunk_step

    toks = " ".join(f"T{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(0, toks), (1, "A b"), (2, ""), (3, None), (4, toks + " X")],
        "doc_id long, text string",
    )
    step = chunk_step(chunk_size=4, overlap=1)
    batches = [
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    ]
    got = sorted(tuple(r) for b in batches for r in step(b, 0).collect())
    want = sorted(
        tuple(r) for r in chunk_documents(docs, chunk_size=4, overlap=1).collect()
    )
    assert got == want
    # one row minimum per doc, blanks at zero tokens, inside batches
    per_doc = {}
    for doc_id, _, n, _ in got:
        per_doc.setdefault(doc_id, []).append(n)
    assert set(per_doc) == {0, 1, 2, 3, 4}
    assert per_doc[2] == [0] and per_doc[3] == [0]
    # replay idempotence: re-running a batch re-emits identical rows
    again = sorted(tuple(r) for r in step(batches[0], 0).collect())
    assert again == sorted(
        tuple(r) for b in batches[:1] for r in step(b, 99).collect()
    )
    with _pytest.raises(ValueError, match="chunk_step"):
        chunk_step(chunk_size=4, overlap=4)


def test_chunk_documents_oracle_parity(spark):
    """The r10/r11 registration candidate, parity-pinned NOW (green at
    sf0.001/0.01/0.1 when written; the pin runs the small corpus)."""
    import duckdb

    from willa_spark.queries import CHUNK_DOCS_ORACLE, q_chunk_documents

    sf_dir = "/root/testdata/sf0.001"
    got = sorted(tuple(r) for r in q_chunk_documents(spark, sf_dir).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(CHUNK_DOCS_ORACLE).fetchall())
    assert len(got) == len(want) > 0
    assert got == want


def test_chunk_documents_null_text_is_empty_doc(spark):
    """Self-review regression + r9 advice: a NULL-text document chunks
    like the blank document — ONE chunk (cardinality contract) with
    chunk_tokens = 0 and empty text. Without the coalesce,
    greatest/least skip the NULL token count and emit a phantom
    chunk_size-token chunk with NULL text; without the blank-to-empty
    rule, split('')'s phantom '' element reports chunk_tokens = 1 and
    overstates token budgets (both defects were mirrored by the DuckDB
    oracle, so the parity pin could never catch either — the
    write-the-oracle-from-the-SPEC lesson)."""
    from willa_spark.functions.text import chunk_documents

    docs = spark.createDataFrame(
        [(0, None), (1, "   ")], "doc_id long, text string"
    )
    rows = chunk_documents(docs, chunk_size=4, overlap=1).collect()
    assert sorted(
        (r["doc_id"], r["chunk_id"], r["chunk_tokens"], r["chunk_text"])
        for r in rows
    ) == [(0, 0, 0, ""), (1, 0, 0, "")]

def _normalize_ref(x, form="NFC"):
    """Pure-Python reference of the normalize_text spec (strip C0
    controls keeping tab/newline/CR, unicode form, collapse \\s+,
    trim; NULL passthrough) — the ONE copy both normalization tests
    pin against (r10 review: two hand-copied specs drift)."""
    import re
    import unicodedata

    if x is None:
        return None
    x = re.sub("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "", x)
    x = unicodedata.normalize(form, x)
    return re.sub(r"\s+", " ", x).strip()


def test_normalize_text_differential_and_edges(spark):
    """normalize_text vs a pure-Python reference of the same spec
    (strip C0 controls keeping tab/newline/CR, NFC, collapse \\s+,
    trim) on the cases that distinguish the steps: decomposed accents
    (NFC must compose), NFKC-only forms (ligature/fullwidth must stay
    under NFC, fold under NFKC), control bytes incl. VT/FF (stripped
    BEFORE the collapse so Java-vs-RE2 \\s differences never
    matter), and NULL passthrough."""
    import re
    import unicodedata

    from willa_spark.functions.text import normalize_text, unicode_normalize

    rows = [
        (0, "Cafe\u0301 du  monde"),      # decomposed -> composes
        (1, "the \ufb01ne \uff21 print"),  # ligature+fullwidth: NFC keeps
        (2, "a\x07b\x0bc\x0cd\x1fe"),     # controls incl VT/FF
        (3, "  lots   of\t\n spaces  "),
        (4, ""),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    ref = _normalize_ref

    got = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", normalize_text(F.col("text")).alias("n")
        ).collect()
    }
    assert got == {i: ref(t) for i, t in rows}
    assert got[0] == "Caf\u00e9 du monde" and len(got[0]) == 13
    assert "\ufb01" in got[1] and "\uff21" in got[1]  # NFC keeps compat forms
    assert got[2] == "abcde"
    # NFKC folds the compatibility forms
    nfkc = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", normalize_text(F.col("text"), form="NFKC").alias("n")
        ).collect()
    }
    assert nfkc == {i: ref(t, "NFKC") for i, t in rows}
    assert nfkc[1] == "the fine A print"
    # fast path: form=None never leaves the JVM (no ArrowEvalPython /
    # BatchEvalPython stage in the plan)
    plan = (
        df.select(normalize_text(F.col("text"), form=None).alias("n"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown form"):
        unicode_normalize(F.col("text"), form="NFX")


def test_normalize_docs_oracle_parity(spark):
    """The unicode-normalization registration candidate (queued r10):
    the full normalized TEXT hashes cross-engine (Python unicodedata
    vs DuckDB utf8proc NFC) including the planted decomposed-accent /
    control-byte / doubled-space copies."""
    import duckdb

    from willa_spark.queries import NORMALIZE_DOCS_ORACLE, q_normalize_docs

    sf_dir = "/root/testdata/sf0.001"
    got = sorted(tuple(r) for r in q_normalize_docs(spark, sf_dir).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(NORMALIZE_DOCS_ORACLE).fetchall())
    assert len(got) == len(want) > 0
    assert got == want
    # the planted rows must actually exercise composition: changed AND
    # shorter than raw by at least the composed accent + control byte
    planted = [r for r in got if r[0] >= 2_000_000]
    assert planted and all(r[3] for r in planted)


def test_streaming_normalize_step_congruent_with_batch(spark):
    """Frozen config => per-batch normalize_step output unions to the
    batch normalize_text over the full corpus exactly; unknown forms
    fail at step construction, never on a running stream's batch N."""
    import pytest as _pytest

    from willa_spark.functions.text import normalize_text
    from willa_spark.streaming.text import normalize_step

    rows = [
        (0, "Cafe\u0301  du \x07 monde"),
        (1, "plain   text"),
        (2, None),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    step = normalize_step()
    got = sorted(
        (r["doc_id"], r["text_norm"])
        for m in (0, 1)
        for r in step(df.filter(F.col("doc_id") % 2 == m), m).collect()
    )
    want = sorted(
        (r["doc_id"], r["n"])
        for r in df.select(
            "doc_id", normalize_text(F.col("text")).alias("n")
        ).collect()
    )
    assert got == want
    assert dict(got)[0] == "Caf\u00e9 du monde"
    with _pytest.raises(ValueError, match="unknown form"):
        normalize_step(form="NFCX")


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.text(
            # mix plain ASCII, combining marks, compatibility forms,
            # controls, and multi-space runs — the classes the steps
            # disagree on if anything drifts
            alphabet=st.sampled_from(
                list("ab c\t\n") + ["\u0301", "\u00e9", "\ufb01", "\uff21", "\x07", "\x0b"]
            ),
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_normalize_text_hypothesis_differential(spark, texts):
    """Random mixed-unicode strings: normalize_text must equal the
    pure-Python spec (strip C0 controls keeping tab/newline/CR, NFC,
    collapse \\s+, trim) exactly — including combining marks landing
    after controls/spaces, where strip-then-normalize order shows."""
    import re
    import unicodedata

    from willa_spark.functions.text import normalize_text

    ref = _normalize_ref

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", normalize_text(F.col("text")).alias("n")
        ).collect()
    }
    assert got == {i: ref(t) for i, t in enumerate(texts)}
