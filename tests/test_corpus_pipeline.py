"""End-to-end streaming corpus curation (corpus_pipeline): screens →
PII redaction → decontamination → cross/within-batch near-dedup →
partitioned shard write, congruent with the batch twin, with every
drop reason exercised by a planted doc."""

import os
import time

from pyspark.sql import functions as F

from willa_spark.functions.curation import eval_ngrams
from willa_spark.streaming.corpus_pipeline import (
    corpus_curation_batch,
    corpus_curation_step,
)

PREFIX = "the data and corpus have been prepared with care for"
FILLER = [
    "maple", "cedar", "birch", "aspen", "walnut", "spruce", "willow",
    "poplar", "linden", "rowan", "hazel", "alder", "juniper", "laurel",
    "myrtle", "acacia", "badger", "beaver", "condor", "dolphin", "falcon",
    "gibbon", "heron", "ibex", "jackal", "kestrel", "lemur", "marten",
    "nutria", "ocelot", "pelican", "quokka", "raccoon", "seagull",
    "tapir", "urchin", "vulture", "wombat", "yak", "zebra",
]


def _doc(i, extra=""):
    words = FILLER[i * 5 % len(FILLER):] + FILLER[: i * 5 % len(FILLER)]
    return f"{PREFIX} {' '.join(words[:25])} under group {words[25]}{extra}"

EVAL_TEXT = "galaxies rotate around invisible halos of dark matter binding them"

DOCS = {
    1: _doc(1),
    2: _doc(2, " contact me at alice@example.com today"),  # PII: survives redacted
    3: "short text",  # gopher: too few words -> dropped
    4: _doc(4).replace("under group", "alpha beta " * 22 + "under group"),  # repetition -> dropped
    5: _doc(5, " " + EVAL_TEXT),  # contaminated -> dropped
    6: _doc(6),
    7: _doc(1),  # cross-batch exact dup of 1 -> dropped (1 survives)
    8: _doc(8),
    9: _doc(8),  # within-batch dup of 8 (both in BATCH3) -> 8 survives
}
BATCH1 = [1, 2, 3]
BATCH2 = [4, 5, 6, 7]
BATCH3 = [8, 9]
EXPECT_IDS = {1, 2, 6, 8}


def _mk(spark, ids):
    return spark.createDataFrame(
        [(i, DOCS[i]) for i in ids], "doc_id bigint, text string"
    )


def _eval_grams(spark):
    ev = spark.createDataFrame([(0, EVAL_TEXT)], "doc_id bigint, text string")
    return eval_ngrams(ev, n=8)


def test_streaming_corpus_pipeline_congruity(spark, tmp_path):
    """Drive three micro-batches through a real readStream →
    foreachBatch pipeline; survivors (ids AND redacted texts) must
    equal the batch twin over the union, and each planted doc must be
    dropped for its intended reason."""
    d = os.path.join(str(tmp_path), "in")
    os.makedirs(d)
    for ids in (BATCH1, BATCH2, BATCH3):
        _mk(spark, ids).coalesce(1).write.mode("append").parquet(d)
        time.sleep(0.05)

    grams = _eval_grams(spark)
    store = os.path.join(str(tmp_path), "store")
    out = os.path.join(str(tmp_path), "out")
    step = corpus_curation_step(store, out_dir=out, eval_grams=grams)

    schema = spark.read.parquet(d).schema
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    q = (
        src.writeStream.foreachBatch(lambda df, bid: step(df, bid) and None)
        .option("checkpointLocation", os.path.join(str(tmp_path), "chk"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "stream did not drain"

    got = {
        (r["doc_id"], r["text"]) for r in spark.read.parquet(out).drop("ingest_batch").collect()
    }
    assert {i for i, _ in got} == EXPECT_IDS
    # PII doc survived REDACTED
    t2 = dict(got)[2]
    assert "<EMAIL>" in t2 and "alice@example.com" not in t2

    want = {
        (r["doc_id"], r["text"])
        for r in corpus_curation_batch(
            _mk(spark, sorted(DOCS)), eval_grams=grams
        ).collect()
    }
    assert got == want


def test_streaming_corpus_pipeline_replay(spark, tmp_path):
    """A replayed micro-batch overwrites its own output and store
    partitions: shard contents are unchanged."""
    grams = _eval_grams(spark)
    store = os.path.join(str(tmp_path), "store")
    out = os.path.join(str(tmp_path), "out")
    step = corpus_curation_step(store, out_dir=out, eval_grams=grams)
    for bid, ids in enumerate((BATCH1, BATCH2, BATCH3)):
        step(_mk(spark, ids), bid)
    before = {
        (r["doc_id"], r["text"]) for r in spark.read.parquet(out).drop("ingest_batch").collect()
    }
    assert {i for i, _ in before} == EXPECT_IDS
    step(_mk(spark, BATCH2), 1)  # replay
    after = {
        (r["doc_id"], r["text"]) for r in spark.read.parquet(out).drop("ingest_batch").collect()
    }
    assert after == before


def test_batch_twin_threads_shingle_n(spark):
    """corpus_curation_batch must verify candidates at the CALLER'S
    shingle_n, not the default 3 (the streaming step always used the
    caller's value — a verify step pinned at n=3 silently breaks the
    batch≡streaming congruity for any non-default n). The planted pair
    shares a 30-token prefix with distinct 6-token tails: exact Jaccard
    is 28/40 = 0.70 at n=3 but 23/35 ≈ 0.657 at n=8, so with
    threshold=0.68 the pair is a near-dup at n=3 (one doc dropped) and
    NOT at n=8 (both kept)."""
    shared = PREFIX + " " + " ".join(FILLER[:20])
    a = shared + " " + " ".join(f"alphatail{i}" for i in range(6))
    b = shared + " " + " ".join(f"betatail{i}" for i in range(6))
    docs = spark.createDataFrame([(1, a), (2, b)], "doc_id bigint, text string")

    kept_n8 = {
        r["doc_id"]
        for r in corpus_curation_batch(docs, threshold=0.68, shingle_n=8).collect()
    }
    assert kept_n8 == {1, 2}
    kept_n3 = {
        r["doc_id"]
        for r in corpus_curation_batch(docs, threshold=0.68, shingle_n=3).collect()
    }
    assert kept_n3 == {1}


def test_screen_and_redact_is_map_only(spark):
    """The fused screens+redaction projection must stay a zero-exchange
    map stage — the 100 TB claim in the module docstring."""
    from willa_spark.plans import count_exchanges
    from willa_spark.streaming.corpus_pipeline import _screen_and_redact

    docs = _mk(spark, sorted(DOCS))
    assert count_exchanges(_screen_and_redact(docs, "doc_id", "text")) == 0


def test_streaming_pack_sequences_congruity_and_replay(spark, tmp_path):
    """Streaming sequence packing must continue each stratum's token
    stream across micro-batches: over id-ordered batches the union of
    step outputs equals the batch operator over the full corpus —
    including NULL strata and NULL-text docs — and a replayed batch
    (probing strictly-prior high-water marks, overwriting its own
    partition) reproduces its own output exactly."""
    import os as _os

    from willa_spark.functions import curation as CU
    from willa_spark.streaming.corpus_pipeline import pack_sequences_step

    rows = [
        (0, "s1", "w w w w"),
        (1, "s2", "w w"),
        (2, "s1", "w w w"),
        (3, None, "w w w w w"),
        (4, "s1", None),
        (5, "s1", "w w w w w w"),
        (6, "s2", "w"),
        (7, None, "w w"),
    ]
    batches = [rows[:3], rows[3:5], rows[5:]]
    schema = "doc_id bigint, source string, text string"
    store = _os.path.join(str(tmp_path), "pack-store")
    step = pack_sequences_step(store, seq_len=5, compact_every=2)

    got = []
    outs = []
    for bid, b in enumerate(batches):
        out = step(spark.createDataFrame(b, schema), bid)
        rows_out = sorted(tuple(r) for r in out.collect())
        outs.append(rows_out)
        got.extend(rows_out)

    full = spark.createDataFrame(rows, schema)
    expect = sorted(tuple(r) for r in CU.pack_sequences(full, seq_len=5).collect())
    assert sorted(got) == expect

    # replay of the LAST batch (the only one foreachBatch can re-run —
    # batch 2's start compacted everything below it, so replaying an
    # earlier batch would violate the compaction watermark contract):
    # same output, the strictly-prior probe never counts the failed
    # attempt's high-water mark, the overwrite never double-counts
    replay = sorted(
        tuple(r)
        for r in step(spark.createDataFrame(batches[2], schema), 2).collect()
    )
    assert replay == outs[2]
    from willa_spark.streaming.store import store_partitions

    assert len(store_partitions(store)) == 2  # [compacted(0+1), 2]


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_pack_corpus = st.lists(
    st.tuples(
        st.sampled_from(["s0", "s1", None]),          # stratum (incl. NULL)
        st.one_of(st.none(), st.integers(0, 9)),      # token count or NULL text
    ),
    min_size=2,
    max_size=16,
)


@given(corpus=_pack_corpus, cuts=st.lists(st.integers(1, 15), max_size=3))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_streaming_pack_congruity_any_batch_boundaries(spark, corpus, cuts):
    """The high-water-mark continuation must equal batch
    pack_sequences for ANY id-ordered micro-batch partitioning of ANY
    corpus shape (random strata incl. NULL, random/NULL token counts,
    random batch cut points incl. empty batches) — the fixed-split
    congruity test generalized."""
    import os as _os
    import tempfile as _tf

    from willa_spark.functions import curation as CU
    from willa_spark.streaming.corpus_pipeline import pack_sequences_step

    rows = [
        (i * 2, s, None if n is None else " ".join(["w"] * n))
        for i, (s, n) in enumerate(corpus)
    ]
    schema = "doc_id bigint, source string, text string"
    bounds = sorted({min(c, len(rows)) for c in cuts})
    batches, prev = [], 0
    for b in bounds + [len(rows)]:
        batches.append(rows[prev:b])
        prev = b
    # a NON-created path: a pre-existing empty dir reads as a real
    # fault by design (an unmounted store volume must not silently
    # read as "first batch" and skip history)
    store = _os.path.join(_tf.mkdtemp(prefix="pack-prop-"), "store")
    step = pack_sequences_step(store, seq_len=5)
    got = []
    for bid, batch in enumerate(batches):
        out = step(spark.createDataFrame(batch, schema), bid)
        got.extend(tuple(r) for r in out.collect())
    want = sorted(
        tuple(r)
        for r in CU.pack_sequences(
            spark.createDataFrame(rows, schema), seq_len=5
        ).collect()
    )
    assert sorted(got) == want


def test_pack_sequences_step_out_of_order_fails_loud(spark, tmp_path):
    """The id-ordered-arrival congruity precondition is ENFORCED, not
    just documented: a batch carrying an id at or below its stratum's
    stored max-id high-water mark must fail the micro-batch (silently
    continuing would produce a valid-looking packing that disagrees
    with the batch operator)."""
    import os as _os

    import pytest
    from willa_spark.streaming.corpus_pipeline import pack_sequences_step

    schema = "doc_id bigint, source string, text string"
    store = _os.path.join(str(tmp_path), "pack-store")
    step = pack_sequences_step(store, seq_len=5)
    step(
        spark.createDataFrame([(0, "s1", "w w"), (2, "s1", "w")], schema), 0
    ).collect()
    # id 1 <= stratum s1's stored max id 2 -> loud failure
    with pytest.raises(Exception, match="out-of-order arrival"):
        step(
            spark.createDataFrame([(1, "s1", "w w w")], schema), 1
        ).collect()
    # a DIFFERENT stratum with overlapping id ranges is fine (marks
    # are per stratum) and so is a replay of the same batch id
    step(spark.createDataFrame([(1, "s2", "w w")], schema), 1).collect()
    step(spark.createDataFrame([(1, "s2", "w w")], schema), 1).collect()


def test_steps_survive_all_dropped_and_empty_batches(spark, tmp_path):
    """An EMPTY micro-batch and a batch whose every doc is dropped
    must return an empty frame (stable schema), not crash on reading
    a removed partition — and later batches keep working. Exercises
    the store_append file-less-partition removal end to end through
    both partition-returning steps."""
    import os as _os

    from willa_spark.streaming.corpus_pipeline import pack_shards_step

    grams = _eval_grams(spark)
    out = _os.path.join(str(tmp_path), "out")
    cur = corpus_curation_step(
        _os.path.join(str(tmp_path), "dedup"), out_dir=out, eval_grams=grams
    )
    schema = "doc_id bigint, text string"
    empty = spark.createDataFrame([], schema)
    r0 = cur(empty, 0)
    assert r0.count() == 0 and r0.columns == ["doc_id", "text"]
    # all-dropped batch: the only doc fails the quality screen
    r1 = cur(spark.createDataFrame([(3, DOCS[3])], schema), 1)
    assert r1.count() == 0
    r2 = cur(_mk(spark, BATCH1), 2)
    assert {r["doc_id"] for r in r2.collect()} == {1, 2}

    pk = pack_shards_step(
        _os.path.join(str(tmp_path), "marks"),
        _os.path.join(str(tmp_path), "shards"),
        seq_len=5,
        seqs_per_shard=2,
    )
    pschema = "doc_id bigint, source string, text string"
    p0 = pk(spark.createDataFrame([], pschema), 0)
    assert p0.count() == 0 and "slice_text" in p0.columns
    p1 = pk(spark.createDataFrame([(1, "s1", "w w w")], pschema), 1)
    assert p1.count() == 1


def test_curation_to_shards_null_id_fails_loud(spark, tmp_path):
    """A NULL-id doc must fail the composed step loudly — matching the
    batch twin — not vanish in the strata re-join (a plain equi-join
    would silently drop it). The dedup stage's NULL-id guard raises
    before the packer's."""
    import os as _os

    import pytest
    from willa_spark.streaming.corpus_pipeline import curation_to_shards_step

    step = curation_to_shards_step(
        _os.path.join(str(tmp_path), "d"),
        _os.path.join(str(tmp_path), "m"),
        _os.path.join(str(tmp_path), "s"),
        seq_len=10,
        seqs_per_shard=2,
    )
    bad = spark.createDataFrame(
        [(1, DOCS[1], "s1"), (None, DOCS[6], "s1")],
        "doc_id bigint, text string, source string",
    )
    with pytest.raises(Exception, match="NULL doc_id"):
        step(bad, 0).collect()


def test_curation_to_shards_end_to_end_congruity(spark, tmp_path):
    """The composed ingestion→training-shards step: streamed shard
    rows over id-ordered batches equal batch corpus_curation_batch →
    save_packed_shards over the full corpus — survivors carry
    REDACTED text into the shard bytes, dropped docs (quality,
    contamination, dups) leave no holes in the packed sequences."""
    import os as _os

    from willa_spark.functions import curation as CU
    from willa_spark.streaming.corpus_pipeline import curation_to_shards_step
    from willa_spark.streaming.store import store_read

    grams = _eval_grams(spark)
    docs = {i: (DOCS[i], "s%d" % (i % 2)) for i in DOCS}
    mk = lambda ids: spark.createDataFrame(
        [(i, docs[i][0], docs[i][1]) for i in ids],
        "doc_id bigint, text string, source string",
    )
    step = curation_to_shards_step(
        _os.path.join(str(tmp_path), "dedup"),
        _os.path.join(str(tmp_path), "marks"),
        _os.path.join(str(tmp_path), "shards"),
        seq_len=10,
        seqs_per_shard=2,
        eval_grams=grams,
    )
    for bid, ids in enumerate((BATCH1, BATCH2, BATCH3)):
        step(mk(ids), bid).collect()

    cols = [
        "source", "shard", "seq_id", "doc_id",
        "start_in_seq", "start_in_doc", "slice_len", "slice_text",
    ]
    streamed = sorted(
        tuple(r)
        for r in store_read(spark, _os.path.join(str(tmp_path), "shards"))
        .select(*cols)
        .collect()
    )
    surv = corpus_curation_batch(mk(sorted(docs)), eval_grams=grams)
    surv = surv.join(mk(sorted(docs)).select("doc_id", "source"), "doc_id")
    out = _os.path.join(str(tmp_path), "batch-shards")
    CU.save_packed_shards(surv, out, seq_len=10, seqs_per_shard=2)
    batch_rows = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .select(
            F.col("source").cast("string"),
            F.col("shard").cast("bigint"),
            *cols[2:],
        )
        .collect()
    )
    assert streamed == batch_rows and len(streamed) > 0
    # survivors only, redacted: the PII doc's shard bytes carry the
    # placeholder, never the raw address
    joined_text = " ".join(t for *_x, t in streamed)
    assert "alice@example.com" not in joined_text
    assert "<email>" in joined_text  # slice_text is the NORMALIZED stream
    kept_ids = {r[3] for r in streamed}
    assert kept_ids == EXPECT_IDS


def test_pack_shards_step_congruity_and_replay(spark, tmp_path):
    """The streaming assembly endpoint: the union of streamed shard
    rows over id-ordered batches must equal what batch
    save_packed_shards writes for the same corpus (read back from
    disk, layout normalized) — surviving a replay across a
    store-compaction boundary."""
    import os as _os

    from willa_spark.functions import curation as CU
    from willa_spark.streaming.corpus_pipeline import pack_shards_step
    from willa_spark.streaming.store import store_partitions, store_read

    rows = [
        (0, "s1", " ".join(["w"] * 6)),
        (1, "s1", " ".join(["w"] * 23)),   # straddles seqs 0..2 at L=10
        (2, "s2", " ".join(["w"] * 4)),
        (3, "s1", " ".join(["w"] * 11)),
        (4, "s2", " ".join(["w"] * 9)),
        (5, "s1", " ".join(["w"] * 2)),
        (6, "s2", None),                   # NULL text -> no slices
    ]
    schema = "doc_id bigint, source string, text string"
    batches = [rows[:2], rows[2:4], rows[4:]]
    store = _os.path.join(str(tmp_path), "marks")
    shards = _os.path.join(str(tmp_path), "stream-shards")
    step = pack_shards_step(
        store, shards, seq_len=10, seqs_per_shard=2, compact_every=2
    )
    last = None
    for bid, b in enumerate(batches):
        last = sorted(
            tuple(r)
            for r in step(spark.createDataFrame(b, schema), bid).collect()
        )
    # replay the last batch across the compaction boundary (batch 2's
    # start compacted partitions 0+1): identical rows, own partition
    # overwritten, nothing double-counted
    replay = sorted(
        tuple(r)
        for r in step(spark.createDataFrame(batches[2], schema), 2).collect()
    )
    assert replay == last
    assert len(store_partitions(shards)) == 2  # [compacted(0+1), 2]

    cols = [
        "source", "shard", "seq_id", "doc_id",
        "start_in_seq", "start_in_doc", "slice_len", "slice_text",
    ]
    streamed = sorted(
        tuple(r)
        for r in store_read(spark, shards).select(*cols).collect()
    )
    out = _os.path.join(str(tmp_path), "batch-shards")
    CU.save_packed_shards(
        spark.createDataFrame(rows, schema), out, seq_len=10, seqs_per_shard=2
    )
    batch_rows = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .select(
            F.col("source").cast("string"),
            F.col("shard").cast("bigint"),
            *cols[2:],
        )
        .collect()
    )
    assert streamed == batch_rows and len(streamed) > 0


def test_curation_step_dedup_score_elects_best(spark, tmp_path):
    """dedup_score= flows through the composed curation step to the
    minhash store's within-batch survivor election: for a co-arriving
    near-dup pair the higher-scoring (here: longer) member wins even
    with the LARGER id, where the default policy keeps the min id."""
    base = _doc(1)
    richer = base + " plus richer closing material here"
    rows = [(1, base), (2, richer)]
    mk = lambda: spark.createDataFrame(rows, "doc_id bigint, text string")

    default_step = corpus_curation_step(os.path.join(str(tmp_path), "d0"))
    assert {r["doc_id"] for r in default_step(mk(), 0).collect()} == {1}

    scored_step = corpus_curation_step(
        os.path.join(str(tmp_path), "d1"),
        dedup_score=F.length(F.col("text")),
    )
    assert {r["doc_id"] for r in scored_step(mk(), 0).collect()} == {2}


def test_composed_pipeline_verify_mode_is_explicit(spark, tmp_path):
    """The composed pipeline's dedup VERIFY MODE is an explicit pinned
    decision (corpus_curation_step's VERIFY-MODE DECISION note): the
    default runs the signature-estimated Jaccard against a
    signature-only store — no ``shingles/`` half may exist — while
    ``dedup_exact_verify=True`` must thread through to
    ``minhash_dedup_step``'s exact-shingle store (``shingles/``
    present). Both modes must admit the same survivors here: the
    planted dups are exact copies, which the estimator scores at
    exactly 1.0 (the congruity the default's docstring relies on)."""
    grams = _eval_grams(spark)
    admitted = {}
    for mode in (False, True):
        store = os.path.join(str(tmp_path), f"store_exact_{mode}")
        step = corpus_curation_step(
            store, eval_grams=grams, dedup_exact_verify=mode
        )
        ids = set()
        for bid, batch in enumerate((BATCH1, BATCH2, BATCH3)):
            ids |= {r["doc_id"] for r in step(_mk(spark, batch), bid).collect()}
        admitted[mode] = ids
        assert os.path.isdir(os.path.join(store, "shingles")) == mode, (
            f"shingles/ must exist iff exact_verify (mode={mode})"
        )
    assert admitted[False] == admitted[True] == EXPECT_IDS


def test_composed_pipeline_fuzzy_decontamination(spark, tmp_path):
    """The fuzzy overlap-fraction screen composes into the pipeline:
    a doc carrying a drop-every-4th-token PARAPHRASE of the eval text
    (zero verbatim 8-grams — the exact screen admits it) must be
    dropped when ``fuzzy_eval_sets`` is wired, and survivors must
    equal the batch twin with the same fuzzy frame."""
    from willa_spark.functions.curation import eval_ngram_sets

    ev_toks = EVAL_TEXT.split()
    para = " ".join(t for i, t in enumerate(ev_toks) if i % 4 != 0)
    docs = dict(DOCS)
    # rotation 11*5 % 40 = 15 — unused by the base DOCS (a reused
    # rotation would make doc 10 a minhash near-dup and hide the
    # fuzzy drop behind the dedup stage)
    docs[10] = _doc(11, " " + para)
    mk = lambda ids: spark.createDataFrame(
        [(i, docs[i]) for i in ids], "doc_id bigint, text string"
    )
    grams = _eval_grams(spark)
    ev = spark.createDataFrame([(0, EVAL_TEXT)], "doc_id bigint, text string")
    sets = eval_ngram_sets(ev)

    # without the fuzzy frame the paraphrase doc survives (exact
    # screen blind to it) — the gap the fuzzy screen closes
    plain = corpus_curation_step(os.path.join(str(tmp_path), "s0"), eval_grams=grams)
    ids_plain = set()
    for bid, batch in enumerate((BATCH1, BATCH2, BATCH3 + [10])):
        ids_plain |= {r["doc_id"] for r in plain(mk(batch), bid).collect()}
    assert ids_plain == EXPECT_IDS | {10}

    fuzzy = corpus_curation_step(
        os.path.join(str(tmp_path), "s1"), eval_grams=grams, fuzzy_eval_sets=sets
    )
    ids_fuzzy = set()
    for bid, batch in enumerate((BATCH1, BATCH2, BATCH3 + [10])):
        ids_fuzzy |= {r["doc_id"] for r in fuzzy(mk(batch), bid).collect()}
    assert ids_fuzzy == EXPECT_IDS, ids_fuzzy

    want = {
        r["doc_id"]
        for r in corpus_curation_batch(
            mk(sorted(docs)), eval_grams=grams, fuzzy_eval_sets=sets
        ).collect()
    }
    assert ids_fuzzy == want


def test_composed_pipeline_semantic_decontamination(spark, tmp_path):
    """The SEMANTIC screen composes into the pipeline: batches carry
    an embedding column (the raw frame — the screen stage's (id,
    text) projection must not matter), a doc whose vector is a
    near-copy of the eval vector is dropped even though its TEXT
    shares nothing with the eval item, survivors equal the batch
    twin, and enabling the screen without the column fails loud."""
    import os

    from willa_spark.streaming.corpus_pipeline import (
        corpus_curation_batch,
        corpus_curation_step,
    )

    # id 6's text is clean lexically; give it an embedding almost
    # parallel to the eval vector -> semantically flagged
    vecs = {
        1: [1.0, 0.0, 0.0],
        2: [0.0, 1.0, 0.0],
        6: [0.7071, 0.7071, 0.0],
        8: [0.0, 0.0, 1.0],
        3: [1.0, 1.0, 1.0], 4: [1.0, 2.0, 3.0], 5: [3.0, 2.0, 1.0],
        7: [0.5, 0.5, 0.5], 9: [0.1, 0.2, 0.3],
    }
    ev_emb = spark.createDataFrame(
        [(100, [0.70, 0.7142, 0.0])], "doc_id bigint, embedding array<double>"
    )

    def mk(ids):
        return spark.createDataFrame(
            [(i, DOCS[i], vecs[i]) for i in ids],
            "doc_id bigint, text string, embedding array<double>",
        )

    grams = _eval_grams(spark)
    step = corpus_curation_step(
        os.path.join(str(tmp_path), "sem"),
        eval_grams=grams,
        semantic_eval_emb=ev_emb,
        semantic_min_sim=0.99,
    )
    got = set()
    for bid, batch in enumerate((BATCH1, BATCH2, BATCH3)):
        got |= {r["doc_id"] for r in step(mk(batch), bid).collect()}
    assert got == EXPECT_IDS - {6}, got

    want = {
        r["doc_id"]
        for r in corpus_curation_batch(
            mk(sorted(DOCS)),
            eval_grams=grams,
            semantic_eval_emb=ev_emb,
            semantic_min_sim=0.99,
        ).collect()
    }
    assert got == want

    # config error: screen enabled, no embedding column -> loud
    import pytest as _pytest

    bad = corpus_curation_step(
        os.path.join(str(tmp_path), "sem2"),
        semantic_eval_emb=ev_emb,
    )
    with _pytest.raises(ValueError, match="no 'embedding' column"):
        bad(_mk(spark, BATCH1), 0)


def test_composed_pipeline_classifier_admission(spark, tmp_path):
    """The LEARNED quality screen composes into the pipeline: train a
    classifier batch-side on a marker fixture (junk docs carry spammy
    marker tokens), wire the frozen weights into the step, and the
    marked doc drops at min_prob=0.9 (it scores ~0.78 vs the clean
    docs' ~0.99 — markers appear in only 4 training docs, so their
    negative weights dent, not crater, a 28-quality-word margin; the
    threshold is the caller's dial) while clean survivors equal the
    batch twin; a weight/geometry mismatch fails loud AT STEP
    CONSTRUCTION."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as FN

    from willa_spark.functions import classifier as C
    from willa_spark.streaming.corpus_pipeline import (
        corpus_curation_batch,
        corpus_curation_step,
    )

    K = 64
    # labeled training snapshot: quality docs vs junk carrying markers
    train = spark.createDataFrame(
        [(100 + i, 1, _doc(i)) for i in range(4)]
        + [
            (200 + i, 0, "clickspam buyspam nowspam " + _doc(i))
            for i in range(4)
        ],
        "doc_id long, label int, text string",
    )
    fv = C.doc_feature_vectors(
        train, num_buckets=K, ns=(1,), label_col="label", binary=True
    ).localCheckpoint(eager=True)
    w = C.train_logreg(fv, num_buckets=K, epochs=8, lr=0.5)

    # doc 6 gets the junk markers — lexically clean otherwise
    docs = dict(DOCS)
    docs[6] = "clickspam buyspam nowspam " + DOCS[6]

    def mk(ids):
        return spark.createDataFrame(
            [(i, docs[i]) for i in ids], "doc_id bigint, text string"
        )

    grams = _eval_grams(spark)
    step = corpus_curation_step(
        os.path.join(str(tmp_path), "cls"),
        eval_grams=grams,
        classifier_weights=w,
        classifier_num_buckets=K,
        classifier_ns=(1,),
        classifier_binary=True,
        classifier_min_prob=0.9,
    )
    got = set()
    for bid, batch in enumerate((BATCH1, BATCH2, BATCH3)):
        got |= {r["doc_id"] for r in step(mk(batch), bid).collect()}
    assert got == EXPECT_IDS - {6}, got

    want = {
        r["doc_id"]
        for r in corpus_curation_batch(
            mk(sorted(docs)),
            eval_grams=grams,
            classifier_weights=w,
            classifier_num_buckets=K,
            classifier_ns=(1,),
            classifier_binary=True,
            classifier_min_prob=0.9,
        ).collect()
    }
    assert got == want

    with _pytest.raises(ValueError, match="mixed model generations"):
        corpus_curation_step(
            os.path.join(str(tmp_path), "cls2"),
            classifier_weights=w,
            classifier_num_buckets=K + 1,
        )


def test_batch_twin_spill_dir_stage_pins(spark, tmp_path):
    """The 100 TB batch-twin storage discipline (r11 advice): with
    ``spill_dir`` set AND the semantic + classifier screens enabled,
    the multi-consumer pins spill to parquet stages under spill_dir
    (no corpus-scale localCheckpoint anywhere on the path), the
    curated pre-dedup corpus lands in curated/ (NOT the root — an
    overwrite there would delete the stage spills the lazy curated
    plan still reads), and survivors are IDENTICAL to the
    executor-persist path."""
    import os

    from willa_spark.functions import classifier as C
    from willa_spark.streaming.corpus_pipeline import corpus_curation_batch

    K = 64
    train = spark.createDataFrame(
        [(100 + i, 1, _doc(i)) for i in range(4)]
        + [
            (200 + i, 0, "clickspam buyspam nowspam " + _doc(i))
            for i in range(4)
        ],
        "doc_id long, label int, text string",
    )
    fv = C.doc_feature_vectors(
        train, num_buckets=K, ns=(1,), label_col="label", binary=True
    ).localCheckpoint(eager=True)
    w = C.train_logreg(fv, num_buckets=K, epochs=8, lr=0.5)

    vecs = {
        1: [1.0, 0.0, 0.0], 2: [0.0, 1.0, 0.0],
        6: [0.7071, 0.7071, 0.0], 8: [0.0, 0.0, 1.0],
        3: [1.0, 1.0, 1.0], 4: [1.0, 2.0, 3.0], 5: [3.0, 2.0, 1.0],
        7: [0.5, 0.5, 0.5], 9: [0.1, 0.2, 0.3],
    }
    ev_emb = spark.createDataFrame(
        [(100, [0.70, 0.7142, 0.0])], "doc_id bigint, embedding array<double>"
    )
    docs = dict(DOCS)
    # id 8 carries the junk markers (classifier drop); id 6 is the
    # semantic near-copy (embedding drop) — both screens must bind
    docs[8] = "clickspam buyspam nowspam " + DOCS[8]
    frame = spark.createDataFrame(
        [(i, docs[i], vecs[i]) for i in sorted(docs)],
        "doc_id bigint, text string, embedding array<double>",
    )
    kw = dict(
        eval_grams=_eval_grams(spark),
        semantic_eval_emb=ev_emb,
        semantic_min_sim=0.99,
        classifier_weights=w,
        classifier_num_buckets=K,
        classifier_ns=(1,),
        classifier_binary=True,
        classifier_min_prob=0.9,
    )
    spill = os.path.join(str(tmp_path), "spill")
    got = {r["doc_id"] for r in corpus_curation_batch(
        frame, spill_dir=spill, **kw).collect()}
    want = {r["doc_id"] for r in corpus_curation_batch(frame, **kw).collect()}
    # 6 drops semantically, 8 drops on the classifier; with 8 gone
    # BEFORE dedup its near-dup 9 no longer clusters and survives
    assert got == want == {1, 2, 9}, (got, want)
    # the documented spill layout: stage pins + curated subdir, and a
    # root-level scan never sees the _-prefixed stage spills
    names = set(os.listdir(spill))
    assert {"_stage_semantic_in", "_stage_classifier_in", "curated"} <= names
    assert {r["doc_id"] for r in spark.read.parquet(
        os.path.join(spill, "curated")).collect()} >= got


def test_composed_pipeline_lm_admission(spark, tmp_path):
    """The LM-PERPLEXITY screen composes into the pipeline: train a
    bigram LM batch-side on the clean corpus, wire the frozen model +
    threshold into the step, and a word-salad doc (lexically clean,
    passes Gopher/repetition) drops on perplexity while survivors
    equal the batch twin; lm_model without a threshold fails loud AT
    CONSTRUCTION, as does an unknown scorer."""
    import os

    import pytest as _pytest

    from willa_spark.functions import lm as LMOD

    docs = dict(DOCS)
    # doc 6 becomes in-vocabulary word salad: every unigram is known,
    # so only a SEQUENTIAL signal can catch it (full reversal breaks
    # every bigram, and Gopher/repetition see an ordinary doc)
    docs[6] = " ".join(reversed(_doc(6).split()))

    def mk(ids):
        return spark.createDataFrame(
            [(i, docs[i]) for i in ids], "doc_id bigint, text string"
        )

    # frozen model: trained batch-side on the clean target snapshot —
    # includes the surviving docs' own forms so their transitions are
    # in-vocabulary (the CCNet move: train on the wiki-like corpus)
    train = spark.createDataFrame(
        [(100 + i, _doc(i)) for i in range(8)]
        + [(200, DOCS[1]), (201, DOCS[2]), (202, DOCS[8])],
        "doc_id long, text string",
    )
    model = LMOD.bigram_lm_train(train)
    # pick the cut between the clean docs' ppl and the salad's
    probe = LMOD.kn_bigram_perplexity(mk(sorted(docs)), model)
    ppls = {r["doc_id"]: r["ppl"] for r in probe.collect()}
    clean_max = max(p for i, p in ppls.items() if i in {1, 2, 8})
    assert ppls[6] > clean_max * 1.5, ppls
    cut = (clean_max + ppls[6]) / 2

    grams = _eval_grams(spark)
    step = corpus_curation_step(
        os.path.join(str(tmp_path), "lm"),
        eval_grams=grams,
        lm_model=model,
        lm_max_ppl=cut,
    )
    got = set()
    for bid, batch in enumerate((BATCH1, BATCH2, BATCH3)):
        got |= {r["doc_id"] for r in step(mk(batch), bid).collect()}
    assert got == EXPECT_IDS - {6}, got

    want = {
        r["doc_id"]
        for r in corpus_curation_batch(
            mk(sorted(docs)), eval_grams=grams,
            lm_model=model, lm_max_ppl=cut,
        ).collect()
    }
    assert got == want

    with _pytest.raises(ValueError, match="lm_max_ppl"):
        corpus_curation_step(
            os.path.join(str(tmp_path), "lm2"), lm_model=model
        )
    with _pytest.raises(ValueError, match="lm_scorer"):
        corpus_curation_step(
            os.path.join(str(tmp_path), "lm3"),
            lm_model=model, lm_max_ppl=cut, lm_scorer="bogus",
        )
    # knobs WITHOUT a model are equally loud (r12 review: a forgotten
    # model must not silently skip the screen) — both composers
    with _pytest.raises(ValueError, match="without lm_model"):
        corpus_curation_step(
            os.path.join(str(tmp_path), "lm4"), lm_max_ppl=cut
        )
    with _pytest.raises(ValueError, match="without lm_model"):
        corpus_curation_batch(mk(BATCH1), lm_scorer="jm")


def test_composed_pipeline_line_strip(spark, tmp_path):
    """line_strip=True prepends the boilerplate line screen in the
    RefinedWeb order (line-wise edit BEFORE doc-wise screens): a doc
    padded with boilerplate chrome survives the Gopher word floor
    only WHILE the chrome counts — with the screen on, the chrome is
    stripped first, the residue fails the doc screens, and the doc
    drops; clean docs survive with their text unchanged; streaming
    equals the batch twin; default (off) behavior is untouched."""
    import os

    docs = dict(DOCS)
    # doc 6: a thin 10-word core padded to gopher-passing length by
    # caps-heavy nav lines. Each chrome word carries a lowercase tail
    # (so the DOC-level alpha screen passes and word count reaches the
    # Gopher floor WITH the chrome) while each chrome LINE is >60%
    # uppercase letters (so the LINE screen strips it); lines and
    # words are all distinct so no repetition screen binds. Only the
    # ordering "line-wise first" can drop this doc.
    core = "the data and corpus have been prepared with care here"
    chrome = [
        f"HOME{c}x MENU{c}x BACK{c}x SITE{c}x PAGE{c}x"
        for c in "abcdef"
    ]
    docs[6] = "\n".join([core] + chrome)

    def mk(ids):
        return spark.createDataFrame(
            [(i, docs[i]) for i in ids], "doc_id bigint, text string"
        )

    grams = _eval_grams(spark)
    # OFF: the chrome-padded doc passes (word floor met by chrome)
    off = {
        r["doc_id"]
        for r in corpus_curation_batch(mk(sorted(docs)), eval_grams=grams).collect()
    }
    assert 6 in off
    # ON: chrome stripped first -> 10-word residue fails gopher
    step = corpus_curation_step(
        os.path.join(str(tmp_path), "ls"), eval_grams=grams, line_strip=True
    )
    got = set()
    for bid, batch in enumerate((BATCH1, BATCH2, BATCH3)):
        got |= {r["doc_id"] for r in step(mk(batch), bid).collect()}
    assert got == EXPECT_IDS - {6}, got
    want = {
        r["doc_id"]
        for r in corpus_curation_batch(
            mk(sorted(docs)), eval_grams=grams, line_strip=True
        ).collect()
    }
    assert got == want
    # survivors' stored text is the STRIPPED text (single-line docs
    # have nothing to strip -> unchanged)
    out = {
        r["doc_id"]: r["text"]
        for r in corpus_curation_batch(
            mk(sorted(docs)), eval_grams=grams, line_strip=True
        ).collect()
    }
    assert out[1] == DOCS[1]


def test_composed_pipeline_null_text_congruent_configs(spark):
    """NULL-text contract congruence (r13 review): the standalone
    strip_boilerplate fails loud, but INSIDE the composed stage a
    NULL doc's fate is already defined by the doc screens
    (gopher_keep(NULL) -> NULL -> filtered), so line_strip=True must
    screen it out exactly as line_strip=False does — NOT abort the
    batch with the operator's raise_error."""
    docs = dict(DOCS)

    def mk(with_null):
        rows = [(i, docs[i]) for i in sorted(docs)]
        if with_null:
            rows.append((999, None))
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    grams = _eval_grams(spark)
    for ls in (False, True):
        base = {
            r["doc_id"]
            for r in corpus_curation_batch(
                mk(False), eval_grams=grams, line_strip=ls
            ).collect()
        }
        got = {
            r["doc_id"]
            for r in corpus_curation_batch(
                mk(True), eval_grams=grams, line_strip=ls
            ).collect()
        }
        assert got == base, ls  # NULL doc screened out, no raise
        assert 999 not in got


def test_ccnet_end_to_end_composition(spark):
    """The production CCNet composition (Wenzek 2020) pinned
    end-to-end over REAL testdata: target-train (the every-13th-doc
    quality seed) → FROZEN KN scorer (make_bigram_scorer — the
    ccnet_perplexity driver row's path) → per-LANG tercile cut
    keeping head+middle → the admitted crawl run through the full
    curation pipeline with the SAME frozen model as its LM screen.
    Three pins: (1) the tercile cut is a true per-lang order cut
    (every admitted ppl ≤ every rejected ppl within a lang, admitted
    fraction ≈ 2/3); (2) the pipeline's LM admission composes
    CONGRUENTLY AND IN ITS SLOT — the screen runs BEFORE dedup, so
    survivors with the screen on equal the pipeline run on a
    pre-filtered input (score the redacted text, cut, then curate),
    NOT post-filtered base survivors: dropping a cluster's low-id
    member pre-dedup promotes a higher-id twin to canonical (observed
    on the real corpus — docs 329/459 survive ONLY with the screen
    on), which a post-dedup cut can never reproduce; (3) the
    screen-on survivor set is a strict, non-empty reshaping of the
    base run (some base survivors drop, some non-survivors are
    promoted)."""
    from willa_spark.functions.lm import bigram_lm_train, make_bigram_scorer
    from willa_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "text"
    )
    target = docs.filter(F.col("doc_id") % 13 == 0)
    crawl = docs.filter(F.col("doc_id") % 13 != 0)
    model = bigram_lm_train(
        target.select("doc_id", "text")
    ).localCheckpoint(eager=True)
    score = make_bigram_scorer(model, scorer="kn")
    scored = (
        score(crawl)
        .join(crawl.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "ppl")
        .localCheckpoint(eager=True)
    )
    cuts = scored.groupBy("lang").agg(
        F.expr("percentile(ppl, 2.0/3.0)").alias("t2")
    )
    admitted = scored.join(F.broadcast(cuts), "lang").filter(
        F.col("ppl") <= F.col("t2")
    )
    # (1) the cut equals an INDEPENDENTLY computed per-lang 2/3 order
    # statistic (numpy linear-interpolated percentile over the
    # collected doc-cardinality ppls — r14 review: the first draft
    # asserted max(admitted) <= min(rejected), which filtering on one
    # shared t2 satisfies by construction and so could never fail)
    import numpy as np

    by_lang: dict[str, list[tuple[int, float]]] = {}
    for r in scored.collect():
        by_lang.setdefault(r["lang"], []).append((r["doc_id"], r["ppl"]))
    assert len(by_lang) >= 3
    got_adm = {
        g: {r["doc_id"] for r in admitted.filter(F.col("lang") == g).collect()}
        for g in by_lang
    }
    for g, pairs in by_lang.items():
        t2_py = float(np.percentile([p for _, p in pairs], 100 * 2.0 / 3.0))
        want_adm = {i for i, p in pairs if p <= t2_py}
        assert got_adm[g] == want_adm, g
        frac = len(want_adm) / len(pairs)
        assert 0.60 <= frac <= 0.75, (g, frac)  # head+middle ≈ 2/3
    # (2) LM-screen composition congruence under the SAME frozen model
    crawl_adm = crawl.join(
        admitted.select("doc_id"), "doc_id"
    ).localCheckpoint(eager=True)
    max_ppl = float(
        scored.agg(F.expr("percentile(ppl, 0.5)").alias("m")).collect()[0]["m"]
    )
    base = {
        r["doc_id"]
        for r in corpus_curation_batch(crawl_adm).select("doc_id").collect()
    }
    with_lm = {
        r["doc_id"]
        for r in corpus_curation_batch(
            crawl_adm, lm_model=model, lm_max_ppl=max_ppl, lm_scorer="kn"
        )
        .select("doc_id")
        .collect()
    }
    # the reference applies the SAME cut in the SAME slot: score the
    # REDACTED text (the screen sits after redaction — raw-text ppl
    # disagrees for PII-redacted docs) and filter BEFORE curation, so
    # dedup picks its canonical among LM-admitted docs exactly as the
    # composed pipeline does
    from willa_spark.streaming.corpus_pipeline import _screen_and_redact

    redacted = _screen_and_redact(crawl_adm, "doc_id", "text")
    keep = score(redacted.select("doc_id", "text")).filter(
        F.col("ppl") <= max_ppl
    )
    pre_filtered = crawl_adm.join(keep.select("doc_id"), "doc_id", "left_semi")
    want = {
        r["doc_id"]
        for r in corpus_curation_batch(pre_filtered).select("doc_id").collect()
    }
    assert with_lm == want and 0 < len(with_lm)
    # (3) the slot matters: the screen reshapes the survivor set in
    # BOTH directions (drops base survivors AND promotes cluster
    # members whose lower-id twin was LM-dropped) — a post-dedup cut
    # could only ever shrink it
    assert base - with_lm and with_lm - base
