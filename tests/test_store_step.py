"""The one store-step lifecycle (``streaming/store_step.py``): a crash
between two store-half writes replays cleanly, every store family
records its geometry, NULL ids fail loud, a guard-failing batch
starts no Spark job, and no streaming module writes a store outside
the lifecycle."""

import ast
import os
import shutil
from pathlib import Path

import pytest

from test_parquet_source import jobs_started
from willa_spark.streaming.ann import (
    LshAnnConfig,
    embedding_dedup_step,
    ivf_index_step,
    lsh_index_step,
    pq_index_step,
    semantic_dedup_step,
)
from willa_spark.streaming.near_dedup import (
    minhash_dedup_step,
    simhash_dedup_step,
    winnow_dedup_step,
)
from willa_spark.streaming.novelty import novelty_score_step
from willa_spark.streaming.retrieval import bm25_topk_from_store, postings_index_step
from willa_spark.streaming.sketches import cms_step, vocab_sketch_step
from willa_spark.streaming.store import store_partitions

T1 = "alpha bravo charlie delta echo foxtrot"
T2 = "golf hotel india juliett kilo lima"
BATCH0 = [(1, T1), (2, T2), (3, T2)]
BATCH1 = [(4, T1), (5, "mike november oscar papa quebec romeo")]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _ids(df):
    return sorted(r["doc_id"] for r in df.collect())


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, embedding array<double>")


VEC0 = [  # pairwise cosine <= 0.71: no duplicates within the batch
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.0, 1.0, 0.0, 0.0]),
    (3, [0.0, 0.0, 1.0, 0.0]),
    (4, [0.0, 0.0, 0.0, 1.0]),
    (5, [1.0, 1.0, 0.0, 0.0]),
]
VEC1 = [(i + 10, v) for i, v in VEC0]  # exact copies of batch 0


def _collect(out):
    return None if out is None else out.collect()


def _store_rows(spark, store):
    """Every half's rows with their partition label, half by half."""
    return {
        half: sorted(
            tuple(r)
            for r in spark.read.parquet(os.path.join(store, half)).collect()
        )
        for half in sorted(os.listdir(store))
        if not half.startswith("_")
    }


def _bm25(spark, store):
    """The BM25 probe of a postings store, as sorted rows (None before
    any ingest)."""
    queries = spark.createDataFrame(
        [(1, ["alpha", "golf"]), (2, ["mike", "bravo"])],
        "query_id bigint, terms array<string>",
    )
    top = bm25_topk_from_store(spark, store, queries, k=5)
    return None if top is None else sorted(tuple(r) for r in top.collect())


def _crash_after(monkeypatch, n):
    """Make the lifecycle's n-th half append raise once it has written."""
    from willa_spark.streaming import store_step as SS

    real, calls = SS.store_append, []

    def crashing(*args, **kwargs):
        kept = real(*args, **kwargs)
        calls.append(args[1])
        if len(calls) == n:
            raise RuntimeError("injected crash after a half write")
        return kept

    monkeypatch.setattr(SS, "store_append", crashing)
    return lambda: monkeypatch.setattr(SS, "store_append", real)


@pytest.mark.parametrize(
    # mode: the minhash store with that exact_verify, or the postings store
    "mode,crash_after",
    [(False, 1), (False, 2), (True, 1), (True, 2), (True, 3), ("postings", 1)],
)
def test_replay_after_crash_between_half_writes(
    spark, tmp_path, monkeypatch, mode, crash_after
):
    """A crash after the n-th half's append in batch 0 leaves the later
    halves unwritten. The replay of batch 0 must judge the halves on
    their strictly-prior partitions (none), not on which directories
    exist, and the stream must then equal an uninterrupted run: the
    same admitted ids (dedup) or BM25 answers (postings), and the same
    store rows."""

    def run(store):
        if mode == "postings":
            return postings_index_step(store), lambda _out: _bm25(spark, store)
        return minhash_dedup_step(store, exact_verify=mode), _ids

    ref_store = os.path.join(str(tmp_path), "ref")
    ref, read = run(ref_store)
    want = [read(ref(_docs(spark, b), i)) for i, b in enumerate((BATCH0, BATCH1))]

    store = os.path.join(str(tmp_path), "crashed")
    step, read = run(store)
    restore = _crash_after(monkeypatch, crash_after)
    with pytest.raises(RuntimeError, match="injected crash"):
        step(_docs(spark, BATCH0), 0)
    restore()

    got = [read(step(_docs(spark, b), i)) for i, b in enumerate((BATCH0, BATCH1))]
    assert got == want
    if mode != "postings":
        assert want == [[1, 2], [5]]
    assert _store_rows(spark, store) == _store_rows(spark, ref_store)


def test_bm25_reads_both_postings_halves_at_one_batch_set(
    spark, tmp_path, monkeypatch
):
    """A crash between batch 1's postings and stats appends leaves the
    postings half a batch ahead. Until the replay, the probe serves the
    batch-0 answer, not batch 1's postings scored with batch 0's corpus
    statistics (a ranking that matches no ingested prefix)."""
    ref = os.path.join(str(tmp_path), "ref")
    postings_index_step(ref)(_docs(spark, BATCH0), 0)
    want = _bm25(spark, ref)

    store = os.path.join(str(tmp_path), "crashed")
    step = postings_index_step(store)
    step(_docs(spark, BATCH0), 0)
    restore = _crash_after(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="injected crash"):
        step(_docs(spark, BATCH1), 1)
    restore()
    assert store_partitions(os.path.join(store, "postings")) == [0, 1]
    assert store_partitions(os.path.join(store, "stats")) == [0]
    assert _bm25(spark, store) == want and want


def test_postings_halves_are_coupled(spark, tmp_path):
    """A postings store whose stats half is missing below the batch
    fails loud, before any Spark job, instead of scoring postings
    against missing corpus statistics."""
    store = os.path.join(str(tmp_path), "st")
    step = postings_index_step(store)
    step(_docs(spark, BATCH0), 0)
    shutil.rmtree(os.path.join(store, "stats"))
    batch = _docs(spark, BATCH1)

    def run():
        with pytest.raises(RuntimeError, match="inconsistent"):
            step(batch, 1)

    assert jobs_started(spark, run) == 0


def test_empty_batch_leaves_a_consistent_store(spark, tmp_path):
    """An empty micro-batch (Structured Streaming delivers them) adds a
    stats row and no postings. ``store_append`` removes a partition
    whose write left no file, and then the emptied half's root, so such
    a batch can leave stats without postings. That store is
    consistent: the next batch ingests, and the probe equals
    ``bm25_topk`` over that batch."""
    from willa_spark.functions.retrieval import bm25_topk

    store = os.path.join(str(tmp_path), "st")
    step = postings_index_step(store)
    step(_docs(spark, []), 0)
    post = os.path.join(store, "postings")
    assert spark.read.parquet(post).count() == 0
    shutil.rmtree(post)  # the file-less write's outcome
    assert store_partitions(os.path.join(store, "stats")) == [0]
    step(_docs(spark, BATCH1), 1)
    queries = spark.createDataFrame(
        [(1, ["alpha", "golf"]), (2, ["mike", "bravo"])],
        "query_id bigint, terms array<string>",
    )
    want = bm25_topk(_docs(spark, BATCH1), queries, k=5)
    assert _bm25(spark, store) == sorted(tuple(r) for r in want.collect())


NULL_ID_STEPS = {
    "simhash": simhash_dedup_step,
    "minhash": minhash_dedup_step,
    "winnow": lambda d: winnow_dedup_step(d, k=2, window=2),
    "postings": postings_index_step,
    "lsh": lambda d: lsh_index_step(d, LshAnnConfig(dim=4, n_planes=4, id_col="doc_id")),
    "ivf": lambda d: ivf_index_step(
        d, [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]], id_col="doc_id"
    ),
    "pq": lambda d: pq_index_step(d, [[[1.0, 0.0], [0.0, 1.0]]] * 2, "doc_id"),
}
VECTOR_STEPS = {"lsh", "ivf", "pq"}


@pytest.mark.parametrize("family", list(NULL_ID_STEPS))
def test_null_ids_fail_loud(spark, tmp_path, family):
    """A NULL id equals no stored or batch id: two NULL-id copies of an
    admitted doc would both be emitted and stored, an index would serve
    a NULL neighbour, and two NULL-id docs would merge into one postings
    group. The step fails instead, before writing anything for the
    batch."""
    store = os.path.join(str(tmp_path), "st")
    step = NULL_ID_STEPS[family](store)
    if family in VECTOR_STEPS:
        v, w = VEC0[0][1], VEC0[1][1]
        first = _vecs(spark, [(1, v)])
        bad = _vecs(spark, [(None, v), (None, v), (2, w)])
    else:
        first = _docs(spark, [(1, T1)])
        bad = _docs(spark, [(None, T1), (None, T1), (2, T1)])
    out = _collect(step(first, 0))
    assert out is None or [r["doc_id"] for r in out] == [1]
    with pytest.raises(Exception, match="NULL doc_id"):
        _collect(step(bad, 1))
    if family not in VECTOR_STEPS:
        # a doc too short to yield a signature is checked too
        with pytest.raises(Exception, match="NULL doc_id"):
            _collect(step(_docs(spark, [(None, "hi"), (3, T2)]), 1))
    for root, dirs, _files in os.walk(store):
        assert "ingest_batch=1" not in dirs, root


def _geometry_case(family, store, variant):
    """(step, batch 0 frame maker, batch 1 frame maker, the directory
    holding the geometry record) for one family under one of two
    geometries."""
    a = variant == "a"
    vecs = lambda s: _vecs(s, VEC0), lambda s: _vecs(s, VEC1)
    docs = lambda s: _docs(s, BATCH0), lambda s: _docs(s, BATCH1)
    if family == "embedding":
        step = embedding_dedup_step(
            store, dim=4, n_planes=4, seed=3 if a else 99, id_col="doc_id",
        )
        return step, *vecs, store
    if family in ("semantic", "ivf"):
        cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
        if not a:
            cents = [[0.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.0, 1.0]]
        if family == "ivf":
            return ivf_index_step(store, cents, id_col="doc_id"), *vecs, store
        return semantic_dedup_step(store, cents, id_col="doc_id"), *vecs, store
    if family == "lsh":
        cfg = LshAnnConfig(dim=4, n_planes=4, seed=1 if a else 2, id_col="doc_id")
        return lsh_index_step(store, cfg), *vecs, store
    if family == "pq":
        books = [[[1.0, 0.0], [0.0, 1.0]]] * 2
        return pq_index_step(store, books, "doc_id", normalize=a), *vecs, store
    if family == "cms":
        step = cms_step(store, depth=2 if a else 3, width=16)
        return step, *docs, os.path.join(store, "cms")
    if family == "hll":
        step = vocab_sketch_step(store, group_col="doc_id", lg_k=12 if a else 10)
        return step, *docs, os.path.join(store, "vocab_sketches")
    step = novelty_score_step(store, num_buckets=1000 if a else 7)
    return step, *docs, store


@pytest.mark.parametrize(
    "family", ["embedding", "semantic", "novelty", "lsh", "ivf", "pq", "cms", "hll"]
)
def test_store_geometry_guard_every_family(spark, tmp_path, family):
    """Every store records its geometry like the minhash/winnow ones:
    resuming with other hyperplanes, centroids, codebooks, buckets or
    sketch sizes fails loud instead of re-admitting copies, mis-scoring
    or serving keys no probe reaches. A store without a record starts
    one, so older stores resume."""
    store = os.path.join(str(tmp_path), "st")
    step, first, second, rec = _geometry_case(family, store, "a")
    _collect(step(first(spark), 0))
    assert os.path.exists(os.path.join(rec, "_geometry.json"))
    other = _geometry_case(family, store, "b")[0]
    with pytest.raises(RuntimeError, match="geometry"):
        other(second(spark), 1)
    os.remove(os.path.join(rec, "_geometry.json"))
    same = _geometry_case(family, store, "a")[0]
    out = _collect(same(second(spark), 1))
    if family in ("embedding", "semantic"):
        assert out == []  # every row is an exact copy of batch 0
    assert os.path.exists(os.path.join(rec, "_geometry.json"))


@pytest.mark.parametrize("guard", ["geometry", "coupled_halves", "absent_half"])
def test_guard_failing_batch_starts_no_job(spark, tmp_path, guard):
    """The lifecycle decides each store guard from the geometry record
    and the partition listings, before the first Spark action: a batch
    failing the geometry, the coupled-halves or the absent-half guard
    starts no job. No store half is read, and the signatures are pinned
    only after the guards."""
    store = os.path.join(str(tmp_path), "st")
    exact = guard == "absent_half"
    built = minhash_dedup_step(store, num_bands=16, exact_verify=exact)
    built(_docs(spark, BATCH0), 0).collect()
    if guard == "geometry":
        resumed, match = minhash_dedup_step(store, num_bands=8), "geometry"
    elif guard == "coupled_halves":
        # the bands half pruned alone: sigs holds data, bands none
        shutil.rmtree(os.path.join(store, "bands"))
        resumed, match = minhash_dedup_step(store, num_bands=16), "inconsistent"
    else:
        # an exact-verify store resumed with the default estimator
        resumed, match = minhash_dedup_step(store, num_bands=16), "shingles/ half"
    batch = _docs(spark, BATCH1)

    def run():
        with pytest.raises(RuntimeError, match=match):
            resumed(batch, 1)

    assert jobs_started(spark, run) == 0


def test_write_path_runs_through_the_lifecycle():
    """No streaming module compacts, records a geometry or appends a
    store on its own: only ``store.py`` and the lifecycle do, apart from
    ``ivf_retrain`` (it writes a new generation, not a micro-batch) and
    the three ``corpus_pipeline.py`` steps ``store_step``'s docstring
    names as exceptions. A new hand-rolled store step fails here."""
    write_path = {"store_append", "store_compact_every", "check_geometry"}
    allowed = {
        "store.py": None,  # None: anywhere in the module
        "store_step.py": None,
        "ann.py": {"ivf_retrain"},
        "corpus_pipeline.py": {
            "corpus_curation_step", "pack_sequences_step", "pack_shards_step"
        },
    }
    streaming = Path(__file__).resolve().parents[1] / "willa_spark" / "streaming"
    found = []
    for path in sorted(streaming.glob("*.py")):
        ok = allowed.get(path.name, set())
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                if name in write_path and ok is not None and (
                    getattr(top, "name", None) not in ok
                ):
                    found.append(f"{path.name}:{node.lineno} {name}")
    assert not found, found
