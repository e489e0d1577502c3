"""Corpus-curation operators (willa_spark.functions.curation):
hand-computed expectations on tiny literal corpora, plan-shape
assertions, Hypothesis invariants (partitioning invariance — the
distributed-correctness property — plus conservation and a pure-Python
differential oracle), and a DuckDB parity pin for every
oracle-bearing query outside the fixed driver gate
(queries.DRIVER_GATE) and for the gate's ``run_topology`` rows."""

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from willa_spark.functions import curation as CU
from willa_spark.plans.inspect import count_exchanges
from willa_spark.queries import ORACLE_SQL, QUERIES

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


# ------------------------------------------------------------------ PII
def test_pii_redact_known_values(spark):
    rows = [
        (0, "mail me at jane.doe+x@mail.example.org today"),
        (1, "server 192.168.1.200 and backup 10.0.0.1 are up"),
        (2, "call 555-123-4567 or 555-987-6543 x2"),
        (3, "nothing sensitive here at all"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in CU.pii_redact(df).collect()}
    assert out[0]["n_emails"] == 1 and "<EMAIL>" in out[0]["text_clean"]
    assert "jane" not in out[0]["text_clean"]
    assert out[1]["n_ips"] == 2 and out[1]["text_clean"].count("<IP>") == 2
    assert out[2]["n_phones"] == 2 and "<PHONE> or <PHONE>" in out[2]["text_clean"]
    assert out[3] ["n_emails"] == out[3]["n_ips"] == out[3]["n_phones"] == 0
    assert out[3]["text_clean"] == rows[3][1]
    assert out[4]["text_clean"] == ""


def test_pii_redact_is_map_only(spark):
    df = spark.createDataFrame([(0, "x")], ["doc_id", "text"])
    assert count_exchanges(CU.pii_redact(df)) == 0


# -------------------------------------------------- decontamination
def test_contamination_exact_hits(spark):
    # eval doc has tokens a..j (10 tokens -> 3 8-grams); train doc 100
    # copies tokens b..j (9 tokens -> 2 8-grams, both leaked); train
    # doc 101 shares nothing.
    ev_text = "a b c d e f g h i j"
    train = [
        (100, "b c d e f g h i j"),
        (101, "q r s t u v w x y z"),
    ]
    ev = spark.createDataFrame([(0, ev_text)], ["doc_id", "text"])
    docs = spark.createDataFrame(train, ["doc_id", "text"])
    rep = {
        r["doc_id"]: r
        for r in CU.contamination_report(docs, CU.eval_ngrams(ev)).collect()
    }
    assert set(rep) == {100}
    assert rep[100]["n_hits"] == 2 and rep[100]["n_distinct_grams"] == 2


def test_contamination_join_is_broadcast(spark):
    ev = spark.createDataFrame([(0, "a b c d e f g h i j")], ["doc_id", "text"])
    docs = spark.createDataFrame([(1, "b c d e f g h i j")], ["doc_id", "text"])
    plan = CU.contamination_report(docs, CU.eval_ngrams(ev))._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_plant_eval_leaks_slices_tokens(spark):
    docs = spark.createDataFrame(
        [(0, "t1 t2 t3 t4 t5 t6 t7 t8 t9"), (1, "u1 u2")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["text"] for r in
           CU.plant_eval_leaks(docs, every=1, id_offset=1000).collect()}
    # tokens 3..18 of doc 0 (truncated at 9): t3..t9
    assert out[1000] == "t3 t4 t5 t6 t7 t8 t9"
    # doc 1 has <3 tokens -> empty leak text
    assert out[1001] == ""


def test_fuzzy_contamination_catches_paraphrase(spark):
    """The motivating pin for the fuzzy screen: a drop-every-4th-token
    paraphrase of an eval doc has ZERO exact 8-gram hits (longest
    verbatim run = 3 tokens) but keeps exactly one intact 3-gram per
    dropped position — the fraction screen must flag it while an
    unrelated doc stays clean, with exact expected counts."""
    ev_text = " ".join(f"w{i}" for i in range(1, 17))  # 16 tokens, 14 3-grams
    ev = spark.createDataFrame([(0, ev_text)], ["doc_id", "text"])
    other = " ".join(f"x{i}" for i in range(1, 11))
    corpus = CU.plant_paraphrased_leaks(
        spark.createDataFrame([(0, ev_text), (5, other)], ["doc_id", "text"]),
        every=97,
        id_offset=1000,
    )
    texts = {r["doc_id"]: r["text"] for r in corpus.collect()}
    # dropped 0-based positions 0,4,8,12 -> four intact 3-token runs
    assert texts[1000] == "w2 w3 w4 w6 w7 w8 w10 w11 w12 w14 w15 w16"

    # exact any-hit 8-gram screen is blind to the paraphrase
    exact_ids = {
        r["doc_id"]
        for r in CU.contamination_report(corpus, CU.eval_ngrams(ev)).collect()
    }
    assert exact_ids == {0}, exact_ids

    sets = CU.eval_ngram_sets(ev)
    got = {
        (r["doc_id"], r["eval_id"]): (r["n_shared_grams"], r["overlap"])
        for r in CU.fuzzy_contamination_report(corpus, sets).collect()
    }
    # self-pair: all 14 grams; paraphrase: the 4 intact runs, 4/14
    assert got == {(0, 0): (14, 1.0), (1000, 0): (4, round(4 / 14, 4))}, got

    kept = {
        r["doc_id"] for r in CU.decontaminate_fuzzy(corpus, sets).collect()
    }
    assert kept == {5}, kept


def test_eval_ngram_sets_sub_n_item_fails_loud(spark):
    """An eval item with fewer than n tokens yields zero n-grams — it
    would silently get NO fuzzy-decontamination protection (no row,
    never flaggable), so the frame fails LOUD in-plan instead (the
    minimum-token contract); NULL/blank text items hit the same
    guard. A whole-text fallback would not help: the corpus side
    explodes n-grams only, so a shorter gram can never join."""
    import pytest
    from pyspark.errors import PythonException
    from py4j.protocol import Py4JJavaError

    short = spark.createDataFrame([(7, "only two")], ["doc_id", "text"])
    with pytest.raises(Exception, match="eval_ngram_sets.*n=3.*eval_id"):
        CU.eval_ngram_sets(short).collect()
    blank = spark.createDataFrame(
        [(8, None)], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="eval_ngram_sets"):
        CU.eval_ngram_sets(blank).collect()
    # items AT the boundary (exactly n tokens -> one gram) still pass
    ok = spark.createDataFrame([(9, "a b c")], ["doc_id", "text"])
    rows = CU.eval_ngram_sets(ok).collect()
    assert [(r["eval_id"], r["gram"], r["n_grams"]) for r in rows] == [
        (9, "a b c", 1)
    ]


def test_fuzzy_contamination_join_is_broadcast(spark):
    ev = spark.createDataFrame([(0, "a b c d e")], ["doc_id", "text"])
    docs = spark.createDataFrame([(1, "b c d e f")], ["doc_id", "text"])
    plan = (
        CU.fuzzy_contamination_report(docs, CU.eval_ngram_sets(ev))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


# ------------------------------------------------- corpus line dedup
def test_line_dedup_first_occurrence_wins(spark):
    # 8-token lines; L1 duplicated across docs 0/1, L4 duplicated
    # WITHIN doc 2. First occurrence = min (doc_id, pos).
    L1 = "w1 w2 w3 w4 w5 w6 w7 w8"
    L2 = "x1 x2 x3 x4 x5 x6 x7 x8"
    L3 = "y1 y2 y3 y4 y5 y6 y7 y8"
    L4 = "z1 z2 z3 z4 z5 z6 z7 z8"
    docs = spark.createDataFrame(
        [(0, f"{L1} {L2}"), (1, f"{L1} {L3}"), (2, f"{L4} {L4}")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in CU.line_dedup_stats(docs).collect()}
    assert out[0]["n_lines"] == 2 and out[0]["n_kept"] == 2
    assert out[1]["n_lines"] == 2 and out[1]["n_kept"] == 1  # lost L1
    assert out[2]["n_lines"] == 2 and out[2]["n_kept"] == 1  # intra-doc dup
    assert out[1]["kept_char_frac"] == pytest.approx(0.5, abs=1e-4)


def test_plant_spam_lines_aligns_to_line_boundary(spark):
    # the 16-token prefix must occupy exactly lines 0 and 1 so planted
    # docs share those two lines corpus-wide
    docs = spark.createDataFrame([(0, "a b c"), (10, "d e f")], ["doc_id", "text"])
    planted = CU.plant_spam_lines(docs, every=10)
    stats = {r["doc_id"]: r for r in CU.line_dedup_stats(planted).collect()}
    # both docs planted (0 and 10 are % 10 == 0): 16 spam tokens + 3
    # own tokens -> 3 lines each; doc 10 loses the two spam lines
    assert stats[0]["n_lines"] == 3 and stats[0]["n_kept"] == 3
    assert stats[10]["n_lines"] == 3 and stats[10]["n_kept"] == 1


# ------------------------------------------------------- data mixing
def test_stratified_sample_deterministic_and_rated(spark):
    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    rates = {"a": 0.0, "b": 1.0}
    kept = CU.stratified_sample(df, rates).collect()
    assert all(r["source"] == "b" for r in kept)
    assert len(kept) == 1000  # rate 1.0 keeps every row
    # mid-rate: deterministic across runs and roughly proportional
    mid = CU.stratified_sample(df, {"a": 0.5, "b": 0.5})
    ids1 = sorted(r["doc_id"] for r in mid.collect())
    ids2 = sorted(r["doc_id"] for r in mid.collect())
    assert ids1 == ids2
    assert 800 <= len(ids1) <= 1200


def test_stratified_sample_is_map_only(spark):
    df = spark.createDataFrame([(0, "a")], ["doc_id", "source"])
    assert count_exchanges(CU.stratified_sample(df, {"a": 0.5})) == 0


def test_token_budget_cap_greedy_prefix(spark):
    # quality_score is monotone in doc length up to 500 chars, so
    # longer docs rank first; budget 30 tokens keeps the best docs
    # whose running total fits.
    mk = lambda n, w: " ".join([w] * n)
    rows = [
        (0, "s1", mk(20, "the")),   # highest quality (longest)
        (1, "s1", mk(12, "the")),
        (2, "s1", mk(6, "the")),
        (3, "s2", mk(5, "of")),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r["doc_id"]: r for r in CU.token_budget_cap(df, 30).collect()}
    # s1: doc0 (20) kept, doc1 would reach 32 > 30 -> dropped, and the
    # greedy prefix STOPS at the first overflow: doc2 (cum would be 26
    # only if doc1 were skipped, but prefix semantics are cumulative)
    assert 0 in out and out[0]["cum_tokens"] == 20
    assert 1 not in out and 2 not in out
    assert 3 in out and out[3]["cum_tokens"] == 5
    assert all(r["cum_tokens"] <= 30 for r in out.values())


def test_pack_sequences_concat_then_chunk(spark):
    """Concat-then-chunk semantics: per source, id-ordered token
    streams cut every seq_len tokens — a doc may straddle a boundary
    (it reports the sequence it STARTS in), empty docs occupy zero
    tokens, and strata pack independently."""
    mk = lambda n: " ".join(["w"] * n)
    rows = [
        (0, "s1", mk(6)),    # cb=0  -> seq 0 off 0
        (1, "s1", mk(7)),    # cb=6  -> seq 0 off 6 (straddles 10-token cut)
        (2, "s1", ""),       # cb=13 -> seq 1 off 3 (zero tokens)
        (3, "s1", mk(8)),    # cb=13 -> seq 1 off 3
        (4, "s2", mk(25)),   # cb=0  -> seq 0 off 0 (own stratum)
        (5, "s2", mk(1)),    # cb=25 -> seq 2 off 5
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r["doc_id"]: r for r in CU.pack_sequences(df, seq_len=10).collect()}
    expect = {
        0: (6, 0, 0),
        1: (7, 0, 6),
        2: (0, 1, 3),
        3: (8, 1, 3),
        4: (25, 0, 0),
        5: (1, 2, 5),
    }
    for d, (n, s, o) in expect.items():
        r = out[d]
        assert (r["n_tokens"], r["seq_id"], r["seq_offset"]) == (n, s, o), d
    # conservation: within a stratum, the last doc's cb + n_tokens is
    # the stream length; no tokens created or lost
    s1 = [out[d] for d in (0, 1, 2, 3)]
    assert max(r["seq_id"] * 10 + r["seq_offset"] + r["n_tokens"] for r in s1) == 21
    with pytest.raises(ValueError):
        CU.pack_sequences(df, seq_len=0)


def test_sequence_manifest_tiles_exactly(spark):
    """Loader contract: per (stratum, seq) the slices sum to seq_len
    for every sequence except the stratum's last; per doc the slices
    concatenate to the full token count (start_in_doc spans tile);
    zero-token/NULL docs emit nothing; straddling docs appear once per
    touched sequence with consistent offsets."""
    rows = [
        (0, "s1", " ".join(["w"] * 6)),
        (1, "s1", " ".join(["w"] * 23)),   # spans seqs 0..2 (len 10)
        (2, "s1", ""),
        (3, "s1", None),
        (4, "s1", " ".join(["w"] * 7)),
        (5, "s2", " ".join(["w"] * 4)),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    m = CU.sequence_manifest(df, seq_len=10).collect()
    got = {(r["source"], r["seq_id"], r["doc_id"]):
           (r["start_in_seq"], r["start_in_doc"], r["slice_len"]) for r in m}
    assert got == {
        ("s1", 0, 0): (0, 0, 6),
        ("s1", 0, 1): (6, 0, 4),
        ("s1", 1, 1): (0, 4, 10),
        ("s1", 2, 1): (0, 14, 9),
        ("s1", 2, 4): (9, 0, 1),
        ("s1", 3, 4): (0, 1, 6),
        ("s2", 0, 5): (0, 0, 4),
    }
    # tiling: every non-final sequence sums to exactly seq_len
    import collections

    per_seq = collections.defaultdict(int)
    for (src, s, _d), (_a, _b, ln) in got.items():
        per_seq[(src, s)] += ln
    assert per_seq[("s1", 0)] == per_seq[("s1", 1)] == 10
    # per-doc coverage: slices concatenate to n_tokens
    per_doc = collections.defaultdict(int)
    for (_src, _s, d), (_a, _b, ln) in got.items():
        per_doc[d] += ln
    assert per_doc == {0: 6, 1: 23, 4: 7, 5: 4}


def test_token_budget_cap_scaled_equals_window_form(spark):
    """The (exact score, id chunk) two-phase form must reproduce the
    single-window greedy prefix exactly: score-desc piece order is the
    global quality ranking (ties share a score by definition), and
    chunking ties by id range is the global tie-break. Includes NULL
    text (NULL n_tokens/quality — the plain window skips them but
    keeps the doc when the running total fits) and NULL strata (their
    own packing group, like window partitionBy treats them)."""
    import random

    rng = random.Random(11)
    words = ["the", "of", "and", "zq", "xv"]
    rows = [
        (i, f"s{rng.randrange(3)}",
         " ".join(rng.choice(words) for _ in range(rng.randrange(0, 30))))
        for i in range(80)
    ]
    rows += [(80, "s1", None), (81, None, "the of and"), (82, None, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    base = sorted(
        tuple(r) for r in CU.token_budget_cap(df, 60).collect()
    )
    assert base, "budget must keep something for the test to mean anything"
    assert any(r[0] in (80, 81, 82) for r in base), "null rows must be exercised"
    for width in (1, 7, 1000):
        scaled = sorted(
            tuple(r)
            for r in CU.token_budget_cap_scaled(
                df, 60, substratum_width=width
            ).collect()
        )
        assert scaled == base, f"width={width}"


def test_pack_sequences_scaled_equals_window_form(spark):
    """The two-phase distributed prefix sum (bounded id-range
    sub-strata + broadcast offsets) must produce byte-identical
    packing to the single-window form — including widths that split
    strata mid-stream, a width of 1 (every doc its own sub-stratum),
    sparse/non-contiguous ids, empty docs, NULL text (NULL
    seq_id/seq_offset in BOTH forms), and NULL strata."""
    import random

    rng = random.Random(7)
    rows = [
        (i * 3 + rng.randrange(3), f"s{rng.randrange(3)}",
         " ".join(["w"] * rng.randrange(0, 9)))
        for i in range(60)
    ]
    rows += [(200, "s1", None), (201, None, "w w w"), (202, None, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    base = sorted(
        tuple(r) for r in CU.pack_sequences(df, seq_len=10).collect()
    )
    assert len(base) == len(rows), "no doc may vanish (incl. null keys)"
    for width in (1, 4, 17, 1000):
        scaled = sorted(
            tuple(r)
            for r in CU.pack_sequences_scaled(
                df, seq_len=10, substratum_width=width
            ).collect()
        )
        assert scaled == base, f"width={width}"


def test_scaled_twins_durable_spill_equals_local_checkpoint(spark, tmp_path):
    """The spill_dir form (durable storage materialization instead of
    executor-local checkpoint blocks — the executor-loss-tolerant
    cluster path) must produce byte-identical output, incl. NULL
    rows."""
    rows = [
        (i, f"s{i % 3}", " ".join(["w"] * (i % 7))) for i in range(40)
    ] + [(100, "s1", None), (101, None, "w w w")]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    base_p = sorted(tuple(r) for r in CU.pack_sequences(df, seq_len=5).collect())
    spilled_p = sorted(
        tuple(r)
        for r in CU.pack_sequences_scaled(
            df, seq_len=5, substratum_width=9,
            spill_dir=str(tmp_path / "spill_p"),
        ).collect()
    )
    assert spilled_p == base_p
    base_b = sorted(tuple(r) for r in CU.token_budget_cap(df, 40).collect())
    spilled_b = sorted(
        tuple(r)
        for r in CU.token_budget_cap_scaled(
            df, 40, substratum_width=9, spill_dir=str(tmp_path / "spill_b")
        ).collect()
    )
    assert spilled_b == base_b


def test_two_phase_kernel_null_only_prefix_in_first_piece(spark):
    """The kernel's NULL contract at its sharpest edge (unreachable
    from the current callers, latent for future ones): a row whose
    at-or-before values are all NULL, sitting in the FIRST piece —
    which itself has a non-NULL total from a LATER row. The
    single-window SUM yields NULL there; the r5 kernel's "inclusive
    prefix minus own total" offset resolved to 0 and produced
    __cum=0. The strictly-prior offset frame must keep it NULL."""
    from pyspark.sql import Window as W

    rows = [
        # (id, stratum, piece, value): piece 0 = [NULL, 5], piece 1 = [2]
        (0, "s", 0, None),
        (1, "s", 0, 5),
        (2, "s", 1, 2),
        # a second stratum whose first piece is ALL NULL, second has data
        (3, "t", 0, None),
        (4, "t", 1, 7),
    ]
    df = spark.createDataFrame(
        rows, "id bigint, src string, piece bigint, v bigint"
    )
    got = {
        r["id"]: r["__cum"]
        for r in CU._two_phase_prefix_sum(
            df,
            "src",
            ["piece"],
            piece_order=[F.asc("piece")],
            row_order=[F.asc("id")],
            value_col="v",
        ).collect()
    }
    w = (
        W.partitionBy("src")
        .orderBy(F.asc("piece"), F.asc("id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    want = {
        r["id"]: r["__cum"]
        for r in df.withColumn("__cum", F.sum("v").over(w)).collect()
    }
    assert got == want
    assert want[0] is None and want[3] is None  # the r5 kernel said 0


# ------------------------------------------------ property invariants
_packing_corpus = st.lists(
    st.tuples(
        st.sampled_from(["s0", "s1", None]),           # stratum (incl. NULL)
        st.one_of(st.none(), st.integers(0, 12)),      # token count or NULL text
    ),
    min_size=1,
    max_size=30,
)


@given(corpus=_packing_corpus, width=st.integers(1, 40))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_two_phase_kernel_equals_window_forms(spark, corpus, width):
    """The shared prefix-sum kernel must make BOTH scaled twins
    byte-identical to their window forms for ANY corpus shape — random
    strata (incl. NULL), random/NULL token counts, sparse ids, random
    piece widths. Pins the kernel property the two example-based tests
    sample."""
    rows = [
        (i * 2, s, None if n is None else " ".join(["w"] * n))
        for i, (s, n) in enumerate(corpus)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    pp = sorted(tuple(r) for r in CU.pack_sequences(df, seq_len=7).collect())
    ps = sorted(
        tuple(r)
        for r in CU.pack_sequences_scaled(
            df, seq_len=7, substratum_width=width
        ).collect()
    )
    assert ps == pp
    bp = sorted(tuple(r) for r in CU.token_budget_cap(df, 25).collect())
    bs = sorted(
        tuple(r)
        for r in CU.token_budget_cap_scaled(
            df, 25, substratum_width=width
        ).collect()
    )
    assert bs == bp


# Tiny vocab forces line/gram collisions; docs are token lists.
_doc_strategy = st.lists(
    st.lists(st.sampled_from(["w1", "w2", "w3", "w4"]), min_size=0, max_size=20),
    min_size=1,
    max_size=8,
)

_hyp = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(toks=_doc_strategy)
@_hyp
def test_line_dedup_invariants(spark, toks):
    """Partitioning invariance (the distributed-correctness property:
    the first-owner election must not depend on physical layout),
    conservation (kept lines across the corpus == distinct lines), and
    bounds."""
    rows = [(i, " ".join(t)) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = sorted(tuple(r) for r in CU.line_dedup_stats(df.repartition(1), tokens_per_line=3).collect())
    b = sorted(tuple(r) for r in CU.line_dedup_stats(df.repartition(7), tokens_per_line=3).collect())
    assert a == b
    # conservation: exactly one keeper per distinct line string
    distinct_lines = set()
    for _, text in rows:
        t = text.split()
        if not t:
            continue
        for i in range(0, len(t), 3):
            distinct_lines.add(" ".join(t[i : i + 3]))
    assert sum(r[2] for r in a) == len(distinct_lines)
    for _, n_lines, n_kept, frac in a:
        assert 0 <= n_kept <= n_lines and 0.0 <= frac <= 1.0


@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**9), min_size=0, max_size=30, unique=True),
    rate=st.sampled_from([0.0, 0.25, 0.5, 1.0]),
)
@_hyp
def test_stratified_sample_partition_invariance(spark, ids, rate):
    """Hash sampling is a pure row function: the kept set must be
    identical under any physical partitioning and any re-run, and rate
    1.0 / 0.0 are exact."""
    df = spark.createDataFrame(
        [(i, "s") for i in ids], "doc_id bigint, source string"
    )
    kept1 = sorted(r["doc_id"] for r in CU.stratified_sample(df.repartition(1), {"s": rate}).collect())
    kept5 = sorted(r["doc_id"] for r in CU.stratified_sample(df.repartition(5), {"s": rate}).collect())
    assert kept1 == kept5
    if rate == 1.0:
        assert kept1 == sorted(ids)
    if rate == 0.0:
        assert kept1 == []


@given(toks=_doc_strategy)
@_hyp
def test_contamination_python_differential(spark, toks):
    """Differential oracle in pure Python: a doc is flagged iff it
    shares >= 1 word 3-gram with the eval set, with exact hit counts."""
    rows = [(i, " ".join(t)) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    ev = df.filter(F.col("doc_id") % 2 == 0)
    got = {
        r["doc_id"]: (r["n_hits"], r["n_distinct_grams"])
        for r in CU.contamination_report(df, CU.eval_ngrams(ev, n=3), n=3).collect()
    }

    def grams(t):
        return [" ".join(t[i : i + 3]) for i in range(len(t) - 2)]

    ev_grams = {g for i, t in enumerate(toks) if i % 2 == 0 for g in grams(t)}
    want = {}
    for i, t in enumerate(toks):
        hits = [g for g in grams(t) if g in ev_grams]
        if hits:
            want[i] = (len(hits), len(set(hits)))
    assert got == want


# -------------------------------------- streaming engine-agnosticism
def test_curation_ops_stream_identically(spark, tmp_path):
    """The stateless curation ops are engine-agnostic: the same
    DataFrame functions run unchanged under Structured Streaming —
    pii_redact / stratified_sample compile to map-only streaming
    plans, contamination_report to a stream-static broadcast join +
    streaming aggregation — and reproduce the batch result exactly."""
    rows = [
        (
            i,
            "a" if i % 2 == 0 else "b",
            f"doc{i} mail x{i}@ex.com t{i} a b c d e f g h i j",
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    src = str(tmp_path / "docs")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)

    def drain(sdf, name, mode):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", str(tmp_path / f"cp_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect())

    assert drain(CU.pii_redact(stream), "cur_pii", "append") == sorted(
        tuple(r) for r in CU.pii_redact(df).collect()
    )
    rates = {"a": 0.3, "b": 0.8}
    assert drain(
        CU.stratified_sample(stream, rates), "cur_sample", "append"
    ) == sorted(tuple(r) for r in CU.stratified_sample(df, rates).collect())
    ev = spark.createDataFrame([(0, "a b c d e f g h i j")], ["doc_id", "text"])
    grams = CU.eval_ngrams(ev)
    assert drain(
        CU.contamination_report(stream, grams), "cur_contam", "complete"
    ) == sorted(tuple(r) for r in CU.contamination_report(df, grams).collect())


# --------------------------------------------------- shard writing
def test_save_corpus_shards_deterministic_roundtrip(spark, tmp_path):
    """The assembly endpoint: shard assignment is a pure id hash, the
    on-disk layout is shard=K dirs, a round-trip preserves the corpus
    exactly, and a second write from differently-partitioned input
    yields the identical doc->shard mapping."""
    rows = [(i, f"text {i}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out1 = str(tmp_path / "s1")
    CU.save_corpus_shards(df, out1, n_shards=8)

    back = spark.read.parquet(out1)
    assert sorted((r["doc_id"], r["text"]) for r in back.collect()) == rows
    shards = {r["shard"] for r in back.select("shard").distinct().collect()}
    assert shards == set(range(8))  # every shard populated, none extra

    out2 = str(tmp_path / "s2")
    CU.save_corpus_shards(df.repartition(13), out2, n_shards=8)
    m1 = {r["doc_id"]: r["shard"] for r in back.collect()}
    m2 = {r["doc_id"]: r["shard"] for r in spark.read.parquet(out2).collect()}
    assert m1 == m2
    # and the mapping is the documented hash, not an accident
    assert all(s == (i * CU.KNUTH) % CU._2_32 % 8 for i, s in m1.items())


def test_save_packed_shards_loader_order(spark, tmp_path):
    """The packed endpoint: shard K holds seqs_per_shard consecutive
    sequences, rows WITHIN each shard file arrive in (seq_id,
    start_in_seq) order (the seek-free loader contract), straddling
    docs are duplicated into both touched shards, and the full token
    stream is recoverable."""
    import glob as _glob

    import pyarrow.parquet as _pq

    rows = [
        (0, "s1", " ".join(["w"] * 6)),
        (1, "s1", " ".join(["w"] * 23)),   # seqs 0..2 at L=10
        (2, "s1", " ".join(["w"] * 11)),   # seqs 2..3
        (3, "s2", " ".join(["w"] * 4)),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    out = str(tmp_path / "packed")
    CU.save_packed_shards(df, out, seq_len=10, seqs_per_shard=2)

    back = spark.read.parquet(out)
    # doc 1 straddles shard 0 (seqs 0-1) and shard 1 (seq 2) — but
    # each row carries only its DISJOINT slice, so nothing is stored
    # twice: per-doc slice_text tokens concatenate to n_tokens exactly
    assert (
        back.filter("doc_id = 1").select("shard").distinct().count() == 2
    )
    got = back.groupBy("doc_id").agg(
        F.sum("slice_len").alias("n"),
        F.sum(F.size(F.split(F.col("slice_text"), " "))).alias("n_words"),
    ).collect()
    assert {r["doc_id"]: r["n"] for r in got} == {0: 6, 1: 23, 2: 11, 3: 4}
    assert all(r["n"] == r["n_words"] for r in got)  # slice_text = the slice
    # in-file ordering: every parquet file is already loader-ordered
    for f in _glob.glob(f"{out}/source=*/shard=*/*.parquet"):
        t = _pq.read_table(f, columns=["seq_id", "start_in_seq"])
        pairs = list(zip(t["seq_id"].to_pylist(), t["start_in_seq"].to_pylist()))
        assert pairs == sorted(pairs), f"unordered shard file {f}"
    # NULL doc ids fail loud (silently dropping slices would leave
    # holes in written sequences)
    bad = spark.createDataFrame(
        [(None, "s1", "w w w")], "doc_id bigint, source string, text string"
    )
    with pytest.raises(Exception, match="NULL doc_id"):
        CU.save_packed_shards(bad, str(tmp_path / "bad"), 10, 2)
    # duplicate doc ids fail loud too (the slice join would otherwise
    # silently fan out and corrupt shard token streams — the r6 fix
    # for the NULL/dup validation asymmetry)
    dup = spark.createDataFrame(
        [(7, "s1", "w w w"), (7, "s1", "x x")],
        "doc_id bigint, source string, text string",
    )
    with pytest.raises(Exception, match="duplicate doc_id"):
        CU.save_packed_shards(dup, str(tmp_path / "dup"), 10, 2)


def test_packed_slice_rows_plan_shape(spark):
    """The shard-row builder's 100 TB plan claims, pinned: no
    cartesian product, a bounded exchange count (pack window + text
    join + dup-guard window reuse — NOT one shuffle per slice or per
    validation), and exactly ONE tokenization of the text column on
    the slice side of the plan (the r5 writer re-tokenized per
    manifest row)."""
    from willa_spark.plans import count_exchanges

    rows = [(i, "s%d" % (i % 2), " ".join(["w"] * (5 + i))) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    packed = CU.pack_sequences(df, seq_len=7)
    out = CU.packed_slice_rows(df, packed, 7, 2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert count_exchanges(out) <= 6, count_exchanges(out)
    # tokenization appears once on the slice side (__toks projection)
    # and once inside pack_sequences' n_tokens — never per slice row
    assert plan.count("split(lower(trim(text") <= 2, plan.count(
        "split(lower(trim(text"
    )


def test_load_packed_sequences_materializes_contract(spark, tmp_path):
    """The loader side: reading the shard layout back and assembling
    sequences yields exactly-seq_len token rows (except each
    stratum's last), slice order is reconstructed from start_in_seq
    (not file order), and per-stratum concatenation reproduces the
    original id-ordered token stream."""
    rows = [
        (0, "s1", " ".join(f"a{k}" for k in range(6))),
        (1, "s1", " ".join(f"b{k}" for k in range(23))),
        (2, "s1", " ".join(f"c{k}" for k in range(11))),
        (3, "s2", " ".join(f"d{k}" for k in range(4))),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    out = str(tmp_path / "packed")
    CU.save_packed_shards(df, out, seq_len=10, seqs_per_shard=2)
    seqs = CU.load_packed_sequences(spark, out).collect()
    by_stratum: dict = {}
    for r in seqs:
        assert r["shard"] == r["seq_id"] // 2
        assert r["n_tokens"] == len(r["seq_text"].split(" "))
        by_stratum.setdefault(r["source"], []).append(r)
    for src, rs in by_stratum.items():
        rs.sort(key=lambda r: r["seq_id"])
        assert [r["seq_id"] for r in rs] == list(range(len(rs)))
        for r in rs[:-1]:
            assert r["n_tokens"] == 10, (src, r["seq_id"])
        stream = " ".join(r["seq_text"] for r in rs)
        want = " ".join(t for _i, s, t in rows if s == src)
        assert stream == want, src


# ------------------------------------------------------- edge cases
def test_curation_edge_cases(spark):
    empty = spark.createDataFrame([], "doc_id bigint, source string, text string")
    assert CU.pii_redact(empty).count() == 0
    assert CU.line_dedup_stats(empty).count() == 0
    assert CU.stratified_sample(empty, {"a": 0.5}).count() == 0
    assert CU.token_budget_cap(empty, 100).count() == 0
    # empty EVAL set: nothing can be contaminated, no crash
    docs = spark.createDataFrame([(1, "a b c d e f g h i")], ["doc_id", "text"])
    no_ev = spark.createDataFrame([], "doc_id bigint, text string")
    assert CU.contamination_report(docs, CU.eval_ngrams(no_ev)).count() == 0
    # whitespace-only / short docs produce no lines and no grams
    degenerate = spark.createDataFrame(
        [(1, "   "), (2, ""), (3, "one two")], ["doc_id", "text"]
    )
    assert CU.line_dedup_stats(degenerate).count() == 1  # only doc 3
    assert CU.contamination_report(
        degenerate, CU.eval_ngrams(docs)
    ).count() == 0


def test_curation_config_validation(spark):
    df = spark.createDataFrame([(1, "s", "t")], ["doc_id", "source", "text"])
    with pytest.raises(ValueError, match=r"rates"):
        CU.stratified_sample(df, {"s": 1.5})
    with pytest.raises(ValueError, match=r"budget_tokens"):
        CU.token_budget_cap(df, 0)
    with pytest.raises(ValueError, match=r"n_shards"):
        CU.save_corpus_shards(df, "/tmp/unused", 0)


# ------------------------------------------------ pipeline chaining
def test_full_curation_pipeline_chain(spark, tmp_path):
    """The whole assembly line over real testdata: quality screen →
    PII redaction → corpus line-dedup flags → decontamination flag →
    stratified sampling → token budget → shard write. Asserts each
    stage only narrows the corpus, the chain is deterministic across
    reruns, and the final shards round-trip."""
    from willa_spark.functions import corpus as C
    from willa_spark.sources import read_table

    docs = read_table(spark, SF_DIR, "documents")

    def run(out_dir):
        kept = docs.filter(C.gopher_keep(F.col("text")))
        red = CU.pii_redact(kept).withColumnRenamed("text_clean", "text")
        red = red.join(
            kept.select("doc_id", "source"), "doc_id"
        )
        # drop docs that are mostly duplicated lines corpus-wide
        ld = CU.line_dedup_stats(red)
        red = red.join(
            ld.filter(F.col("kept_char_frac") >= 0.5).select("doc_id"), "doc_id"
        )
        # drop docs contaminated by the "eval set" (doc_id % 97 == 0)
        ev = CU.eval_ngrams(docs.filter(F.col("doc_id") % 97 == 0))
        flagged = CU.contamination_report(red, ev).select("doc_id")
        red = red.join(flagged, "doc_id", "left_anti")
        samp = CU.stratified_sample(red, {f"src{i}": 0.8 for i in range(100)})
        final = CU.token_budget_cap(samp, 2000)
        CU.save_corpus_shards(final, out_dir, n_shards=4)
        return {
            "kept": kept.count(),
            "after_line": red.count(),
            "final": sorted(r["doc_id"] for r in final.collect()),
        }

    r1 = run(str(tmp_path / "a"))
    r2 = run(str(tmp_path / "b"))
    assert r1 == r2  # end-to-end determinism
    assert 0 < len(r1["final"]) <= r1["after_line"] <= r1["kept"]
    back = spark.read.parquet(str(tmp_path / "a"))
    assert sorted(r["doc_id"] for r in back.collect()) == r1["final"]


# --------------------------------------------- omitted-query parity
# EVERY oracle-bearing query outside the 50-entry DRIVER_GATE is
# parity-pinned here, computed from DRIVER_OMIT (the registry minus
# the gate) so a row leaving the gate can never silently lose its
# verification (an earlier revision pinned a hand-written subset and
# left anti_join_customers unverified). The gate's run_topology rows
# are pinned here too: they are the engine every change moves, and
# tools/check_parity.py runs the gate outside the test suite.
from conftest import topology_rows
from willa_spark.queries import DRIVER_OMIT

OMITTED = sorted((DRIVER_OMIT & set(ORACLE_SQL)) | topology_rows())


def test_corpus_profile_sketch_paths(spark):
    """The 100 TB twins of corpus_profile's exact aggregates: HLL
    distinct count and KLL quantiles must land within tolerance of the
    exact values on real testdata."""
    from willa_spark.functions import text as TXT
    from willa_spark.sources import read_table

    docs = read_table(spark, SF_DIR, "documents")
    row = docs.agg(
        F.count_distinct(TXT.fingerprint(F.col("text"))).alias("exact_d"),
        F.approx_count_distinct(TXT.fingerprint(F.col("text"))).alias("hll_d"),
        F.expr("percentile(n_chars, 0.9)").alias("exact_p90"),
        F.expr("approx_percentile(n_chars, 0.9)").alias("kll_p90"),
    ).collect()[0]
    assert abs(row["hll_d"] - row["exact_d"]) / row["exact_d"] < 0.05
    assert abs(row["kll_p90"] - row["exact_p90"]) / row["exact_p90"] < 0.05


def test_above_avg_orders_decorrelates(spark):
    """The correlated scalar subquery must decorrelate into an
    aggregate + join — never a per-row re-scan or cartesian."""
    from willa_spark.plans.inspect import physical_plan

    plan = physical_plan(QUERIES["above_avg_orders"](spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "partial_avg" in plan or "avg" in plan
    assert "Join" in plan


@pytest.mark.parametrize("name", OMITTED)
def test_omitted_relational_parity(spark, name):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    sdf = QUERIES[name](spark, SF_DIR)
    cols = sorted(sdf.columns)
    key = lambda t: tuple((x is None, str(x)) for x in t)
    spark_rows = sorted(
        (tuple(_norm(r[c]) for c in cols) for r in sdf.collect()), key=key
    )
    odf = con.execute(ORACLE_SQL[name]).fetch_arrow_table().to_pylist()
    duck_rows = sorted((tuple(_norm(r[c]) for c in cols) for r in odf), key=key)
    assert spark_rows == duck_rows


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    return v


def test_packed_shards_null_guard_on_both_join_sides(spark):
    """The NULL-id fail-loud guard must appear on BOTH sides of the
    slice join: under AQE, if the un-guarded side's stage materializes
    as empty first (plain isnotnull silently dropping the NULL row),
    AQEPropagateEmptyRelation elides the join and the other side's
    raise never evaluates — an all-NULL batch would write an empty
    shard set instead of failing (observed as a run-order-dependent
    flake). Pinned structurally: the optimized plan carries the raise
    expression once per join side, so WHICHEVER stage runs first
    raises."""
    docs = spark.createDataFrame(
        [(1, "s1", "w w w")], "doc_id bigint, source string, text string"
    )
    packed = CU.pack_sequences(docs, seq_len=10)
    rows = CU.packed_slice_rows(docs, packed, seq_len=10, seqs_per_shard=2)
    plan = rows._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("NULL doc_id") >= 2, plan


def test_repeat_dataset_fractional_epochs_exact(spark):
    """Fractional-epoch upsampling is a pure function of (id, stratum,
    epochs): copy counts equal floor(e) plus the salt-1 hash gate
    (expectation derived from the same hash_uniform expression —
    xxhash64 is not replicable in pure Python, determinism is pinned
    by Spark-vs-Spark equality instead), repeat_idx enumerates 0..n-1,
    e=0 and missing strata drop out, NULL ids fail loud, and the
    extra-copy gate is statistically INDEPENDENT of the sampling gate
    (the affine-salt bug handed every decision to the same ids)."""
    from willa_spark.functions.curation import (
        hash_uniform,
        repeat_dataset,
        stratified_sample,
    )

    rows = [(i, "web" if i % 3 else "wiki", f"doc {i}") for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    epochs = {"wiki": 2.5, "web": 0.5, "code": 1.0}  # code: absent stratum
    out = repeat_dataset(docs, epochs).collect()

    u1 = {
        r["doc_id"]: r["u"]
        for r in docs.select(
            "doc_id", hash_uniform(F.col("doc_id"), salt=1).alias("u")
        ).collect()
    }
    expect = {}
    for i, src, _t in rows:
        e = epochs.get(src, 0.0)
        n = int(e) + (1 if u1[i] < e - int(e) else 0)
        if n > 0:
            expect[i] = n
    got = {}
    for r in out:
        got.setdefault(r["doc_id"], []).append(r["repeat_idx"])
    assert {i: len(v) for i, v in got.items()} == expect
    for i, idxs in got.items():
        assert sorted(idxs) == list(range(len(idxs)))

    # rerun => identical (deterministic across runs and partitionings)
    again = repeat_dataset(docs.repartition(7), epochs).collect()
    got2 = {}
    for r in again:
        got2.setdefault(r["doc_id"], []).append(r["repeat_idx"])
    assert {i: len(v) for i, v in got2.items()} == expect

    # independence: among docs the salt-0 sampler keeps at rate 0.5,
    # the salt-1 half-epoch gate should select ~half — NOT all or none
    # (the affine-salt construction made the gates a constant shift of
    # one another: every fractional epoch below 0.618 selected ZERO
    # extra copies among sampled docs)
    wiki = docs.filter(F.col("source") == "wiki")
    sampled = {r["doc_id"] for r in stratified_sample(wiki, {"wiki": 0.5}).collect()}
    extra_among_sampled = sum(1 for i in sampled if u1[i] < 0.5) / max(len(sampled), 1)
    assert 0.3 < extra_among_sampled < 0.7, extra_among_sampled

    import pytest as _pytest

    with _pytest.raises(ValueError, match="epochs"):
        repeat_dataset(docs, {"wiki": -1.0})
    bad = spark.createDataFrame(
        [(None, "wiki", "x")], "doc_id bigint, source string, text string"
    )
    with _pytest.raises(Exception, match="NULL doc_id"):
        repeat_dataset(bad, epochs).collect()


def test_train_val_test_split_deterministic_and_partition_invariant(spark):
    from willa_spark.functions.curation import (
        hash_uniform,
        stratified_sample,
        train_val_test_split,
    )

    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = {
        r["doc_id"]: r["split"]
        for r in train_val_test_split(docs, fractions=(0.5, 0.3, 0.2)).collect()
    }
    counts = {}
    for v in out.values():
        counts[v] = counts.get(v, 0) + 1
    assert abs(counts["train"] / 2000 - 0.5) < 0.05
    assert abs(counts["val"] / 2000 - 0.3) < 0.05
    assert abs(counts["test"] / 2000 - 0.2) < 0.05

    # labels equal the salt-2 hash thresholds exactly
    u2 = {
        r["doc_id"]: r["u"]
        for r in docs.select(
            "doc_id", hash_uniform(F.col("doc_id"), salt=2).alias("u")
        ).collect()
    }
    want = {
        i: ("train" if u < 0.5 else ("val" if u < 0.8 else "test"))
        for i, u in u2.items()
    }
    assert out == want

    # partition invariance
    re_out = {
        r["doc_id"]: r["split"]
        for r in train_val_test_split(
            docs.repartition(13), fractions=(0.5, 0.3, 0.2)
        ).collect()
    }
    assert re_out == out

    # independence from the salt-0 sampling gate: among sampled(0.5)
    # ids, ~50% train — not the ~100% the affine coupling produced
    src = docs.withColumn("source", F.lit("s"))
    sampled = {r["doc_id"] for r in stratified_sample(src, {"s": 0.5}).collect()}
    p_train = sum(1 for i in sampled if out[i] == "train") / max(len(sampled), 1)
    assert 0.35 < p_train < 0.65, p_train

    import pytest as _pytest

    with _pytest.raises(ValueError, match="fractions"):
        train_val_test_split(docs, fractions=(0.5, 0.1, 0.1))
    bad = spark.createDataFrame([(None,)], "doc_id bigint")
    with _pytest.raises(Exception, match="NULL doc_id"):
        train_val_test_split(bad).collect()


def test_stratified_sample_null_id_fails_loud(spark):
    """The third mixing gate aligns with its siblings (r7 review): a
    NULL-id doc must raise, not silently vanish through the NULL
    comparison in the sampling filter."""
    from willa_spark.functions.curation import stratified_sample

    bad = spark.createDataFrame(
        [(None, "web", "x"), (1, "web", "y")],
        "doc_id bigint, source string, text string",
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="NULL doc_id"):
        stratified_sample(bad, {"web": 1.0}).collect()


from hypothesis import HealthCheck as _HC
from hypothesis import given as _given
from hypothesis import settings as _settings
from hypothesis import strategies as _st


@_settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[_HC.function_scoped_fixture],
)
@_given(_st.data())
def test_mixing_trio_differential_property(spark, data):
    """Random rates/epochs/fractions over a random corpus: the three
    gates compose exactly as the per-id hash decisions predict. The
    expected sets are derived from hash_uniform ITSELF (computed once
    per salt via Spark) and the composition sample→repeat→split is
    checked against the row-by-row model — so any drift in gate
    arithmetic, join shape, or NULL/absent-stratum handling breaks
    this, independent of which hash backs each salt."""
    from willa_spark.functions.curation import (
        hash_uniform,
        repeat_dataset,
        stratified_sample,
        train_val_test_split,
    )

    n = data.draw(_st.integers(30, 120))
    n_strata = data.draw(_st.integers(1, 4))
    strata = [f"s{k}" for k in range(n_strata)]
    assign = data.draw(
        _st.lists(_st.integers(0, n_strata - 1), min_size=n, max_size=n)
    )
    rates = {
        s: data.draw(_st.floats(0.0, 1.0, allow_nan=False)) for s in strata
    }
    epochs = {
        s: data.draw(_st.floats(0.0, 3.0, allow_nan=False)) for s in strata
    }
    f_train = data.draw(_st.floats(0.1, 0.8, allow_nan=False))
    f_val = data.draw(_st.floats(0.05, min(0.9 - f_train, 0.5), allow_nan=False))
    fractions = (f_train, f_val, round(1.0 - f_train - f_val, 12))

    rows = [(i, strata[assign[i]], f"doc {i}") for i in range(n)]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, source string, text string"
    )
    # one Spark evaluation of each salt's uniform = the model's inputs
    us = {
        r["doc_id"]: (r["u0"], r["u1"], r["u2"])
        for r in docs.select(
            "doc_id",
            hash_uniform(F.col("doc_id"), salt=0).alias("u0"),
            hash_uniform(F.col("doc_id"), salt=1).alias("u1"),
            hash_uniform(F.col("doc_id"), salt=2).alias("u2"),
        ).collect()
    }

    sampled = stratified_sample(docs, rates)
    repeated = repeat_dataset(sampled, epochs)
    labeled = train_val_test_split(repeated, fractions=fractions)
    got = [
        (r["doc_id"], r["repeat_idx"], r["split"])
        for r in labeled.collect()
    ]

    expect = []
    for i, src, _t in rows:
        u0, u1, u2 = us[i]
        if not u0 < rates[src]:
            continue
        e = epochs[src]
        n_copies = int(e) + (1 if u1 < e - int(e) else 0)
        label = (
            "train"
            if u2 < fractions[0]
            else ("val" if u2 < fractions[0] + fractions[1] else "test")
        )
        for k in range(n_copies):
            expect.append((i, k, label))
    assert sorted(got) == sorted(expect)


def test_repeat_then_pack_roundtrip(spark, tmp_path):
    """The epochs-into-training-shards recipe: repeat_dataset output
    re-ided collision-free (id * M + repeat_idx), packed to shards,
    loaded back — every copy's text reassembles byte-exactly and total
    packed tokens equal (copies x doc tokens). Pins that the mixing op
    composes with the assembly path's unique-id and ordering
    contracts."""
    from willa_spark.functions.curation import (
        load_packed_sequences,
        repeat_dataset,
        save_packed_shards,
    )

    rows = [
        (1, "s1", "alpha beta gamma delta epsilon zeta"),
        (2, "s1", "one two three four five six seven eight nine"),
        (3, "s2", "red green blue"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    M = 10  # > max epochs, so id*M + repeat_idx cannot collide
    rep = repeat_dataset(docs, {"s1": 2.0, "s2": 3.0}).select(
        (F.col("doc_id") * M + F.col("repeat_idx")).alias("doc_id"),
        "source",
        "text",
    )
    out = str(tmp_path / "epoch-shards")
    save_packed_shards(rep, out, seq_len=8, seqs_per_shard=2)
    back = spark.read.parquet(out)

    per_doc = {
        r["doc_id"]: r["n"]
        for r in back.groupBy("doc_id").agg(F.sum("slice_len").alias("n")).collect()
    }
    tokens = {i: len(t.split()) for i, _s, t in rows}
    want = {}
    for i, _s, _t in rows:
        copies = 2 if _s == "s1" else 3
        for k in range(copies):
            want[i * M + k] = tokens[i]
    assert per_doc == want

    # loader reassembles each copy's text byte-exactly
    loaded = load_packed_sequences(spark, out)
    texts = {i: t for i, _s, t in rows}
    got_rows = back.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("seq_id", "start_in_doc", "slice_text")
                        )
                    ),
                    lambda s: F.split(s["slice_text"], " "),
                )
            ),
        ).alias("t")
    ).collect()
    for r in got_rows:
        assert r["t"] == texts[r["doc_id"] // M], r
    assert loaded.count() > 0


@given(toks=_doc_strategy)
@_hyp
def test_fuzzy_contamination_python_differential(spark, toks):
    """Differential oracle in pure Python for the FUZZY screen: for
    every (doc, eval item) pair, the fraction of the eval item's
    distinct word 2-grams contained in the doc — flagged iff >= 0.5,
    with exact shared counts and 4dp overlap (small vocab + short docs
    make high organic overlap common, exercising both sides of the
    threshold and the distinct-counting rules)."""
    rows = [(i, " ".join(t)) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # the minimum-token contract: sub-n eval items fail LOUD in
    # eval_ngram_sets (they can never join the corpus's n-grams), so a
    # caller screens them out up front — mirrored by the reference's
    # `if not eg: continue`
    ev = df.filter(
        (F.col("doc_id") % 2 == 0)
        & (F.size(F.split(F.col("text"), r"\s+")) >= 2)
    )
    got = {
        (r["doc_id"], r["eval_id"]): (r["n_shared_grams"], r["overlap"])
        for r in CU.fuzzy_contamination_report(
            df, CU.eval_ngram_sets(ev, n=2), n=2, min_overlap=0.5
        ).collect()
    }

    def grams(t):
        return {" ".join(t[i : i + 2]) for i in range(len(t) - 1)}

    want = {}
    for eid, etoks in enumerate(toks):
        if eid % 2 != 0:
            continue
        eg = grams(etoks)
        if not eg:
            continue
        for did, dtoks in enumerate(toks):
            shared = len(grams(dtoks) & eg)
            if shared / len(eg) >= 0.5:
                want[(did, eid)] = (shared, round(shared / len(eg), 4))
    assert got == want, (got, want)


def test_epoch_shuffle_bijection_decorrelation_and_guards(spark):
    """Deterministic per-epoch shuffle: same rows out (a relabeling,
    never a sample), identical assignment on a repartitioned input
    (retry-safe), epochs produce DIFFERENT orders whose rank
    correlation is near zero (the affine-salt lesson: hash(id)+epoch
    would correlate perfectly), shards are roughly even, and NULL ids
    fail loud."""
    import pytest as _pytest

    from willa_spark.functions.curation import epoch_shuffle

    docs = spark.range(2000).select(F.col("id").alias("doc_id"))
    e0 = epoch_shuffle(docs, epoch=0, n_shards=8)
    rows0 = {r["doc_id"]: (r["epoch_shard"], r["epoch_pos"]) for r in e0.collect()}
    assert len(rows0) == 2000  # bijection: every row, once
    rows0b = {
        r["doc_id"]: (r["epoch_shard"], r["epoch_pos"])
        for r in epoch_shuffle(docs.repartition(13), 0, 8).collect()
    }
    assert rows0 == rows0b  # partitioning-invariant (retry-safe)
    rows1 = {
        r["doc_id"]: (r["epoch_shard"], r["epoch_pos"])
        for r in epoch_shuffle(docs, epoch=1, n_shards=8).collect()
    }
    assert rows0 != rows1
    # rank decorrelation across epochs: Spearman |rho| small
    ids = sorted(rows0)
    r0 = {d: i for i, d in enumerate(sorted(ids, key=lambda d: rows0[d][1]))}
    r1 = {d: i for i, d in enumerate(sorted(ids, key=lambda d: rows1[d][1]))}
    n = len(ids)
    mean = (n - 1) / 2
    num = sum((r0[d] - mean) * (r1[d] - mean) for d in ids)
    den = sum((r0[d] - mean) ** 2 for d in ids)
    assert abs(num / den) < 0.1, num / den
    # shard balance: every shard within 2x of the mean
    from collections import Counter

    sizes = Counter(s for s, _ in rows0.values())
    assert len(sizes) == 8 and max(sizes.values()) < 2 * (2000 / 8)
    with _pytest.raises(ValueError, match="n_shards"):
        epoch_shuffle(docs, 0, 0)
    nul = spark.createDataFrame([(None,)], "doc_id long")
    with _pytest.raises(Exception, match="NULL doc_id"):
        epoch_shuffle(nul, 0, 4).collect()


def test_epoch_shuffle_salt_space_and_writer(spark, tmp_path):
    """Self-review regressions: (a) the domain tag keeps epoch draws
    OUT of hash_uniform's salt space — epoch 1's position is NOT the
    repeat_dataset salt-1 draw (a raw xxhash64(id, 1) would be
    bit-identical); (b) repeat_dataset copies get DISTINCT positions
    via salt_cols=['repeat_idx']; (c) save_epoch_shards materializes
    the epoch order — different epochs land different within-shard
    orders, re-runs identical."""
    import os

    from willa_spark.functions.curation import epoch_shuffle, save_epoch_shards

    docs = spark.range(500).select(F.col("id").alias("doc_id"))
    pos1 = {
        r["doc_id"]: r["epoch_pos"]
        for r in epoch_shuffle(docs, epoch=1, n_shards=4).collect()
    }
    raw_salt1 = {
        r["doc_id"]: r["h"]
        for r in docs.withColumn(
            "h", F.xxhash64(F.col("doc_id"), F.lit(1))
        ).collect()
    }
    assert all(pos1[d] != raw_salt1[d] for d in pos1)

    dup = docs.crossJoin(
        spark.createDataFrame([(0,), (1,)], "repeat_idx int")
    )
    dp = epoch_shuffle(dup, 0, 4, salt_cols=["repeat_idx"]).collect()
    per_doc = {}
    for r in dp:
        per_doc.setdefault(r["doc_id"], set()).add(r["epoch_pos"])
    assert all(len(v) == 2 for v in per_doc.values())  # copies split

    out0 = os.path.join(str(tmp_path), "ep0")
    out0b = os.path.join(str(tmp_path), "ep0b")
    out1 = os.path.join(str(tmp_path), "ep1")
    save_epoch_shards(docs, out0, epoch=0, n_shards=4)
    save_epoch_shards(docs, out0b, epoch=0, n_shards=4)
    save_epoch_shards(docs, out1, epoch=1, n_shards=4)

    def order(path):
        import glob

        out = {}
        for d in sorted(glob.glob(os.path.join(path, "epoch_shard=*"))):
            import pyarrow.parquet as pq

            out[d.split("=")[-1]] = [
                int(x)
                for f in sorted(glob.glob(os.path.join(d, "*.parquet")))
                for x in pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()
            ]
        return out

    o0, o0b, o1 = order(out0), order(out0b), order(out1)
    assert o0 == o0b  # re-run identical
    assert o0 != o1   # epochs genuinely reshuffled
    assert sorted(x for v in o0.values() for x in v) == list(range(500))


def test_epoch_shuffle_bands_oracle_parity(spark):
    """The epoch-shuffle registration candidate (queued r10): exact
    corpus count + four in-plan bands (position bijection, <=2x-mean
    shard balance, cross-epoch shard agreement inside the
    independence band around 1/32, zero fixed positions) vs the
    trivial oracle — a violated band raise_errors, never silently
    hash-mismatches."""
    import duckdb

    from willa_spark.queries import EPOCH_SHUFFLE_ORACLE, q_epoch_shuffle_bands

    sf_dir = "/root/testdata/sf0.001"
    got = [tuple(r) for r in q_epoch_shuffle_bands(spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = [tuple(r) for r in con.execute(EPOCH_SHUFFLE_ORACLE).fetchall()]
    assert got == want and len(got) == 1


def test_semantic_contamination_report_fixture_and_planting_bound(spark):
    """The third decontamination screen: exact cosines on a literal
    fixture (flag at >= 0.9 of the ROUNDED value, self-pairs
    excluded via exclude_same_id), plus the planting lemma the
    candidate query relies on — cos(v, v + 0.2*||v||*e1) stays in
    [sqrt(0.96) ~ 0.9798, 1.0] for ANY vector; the TRUE minimizer is
    a = v1/||v|| = -0.2 (f' ~ 0.04 + 0.2a — the r10 review corrected
    an earlier a~0/0.98 claim), so the worst cases pinned are
    {-1, -0.2, 0, +1}."""
    import math

    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),       # eval item
            (1, [1.0, 0.001]),     # near-copy -> flagged
            (2, [0.0, 1.0]),       # orthogonal -> clean
            (3, [-1.0, 0.0]),      # opposite -> clean
        ],
        "vec_id long, embedding array<double>",
    )
    ev = corpus.filter(F.col("vec_id") == 0)
    got = {
        (r["vec_id"], r["eval_id"]): r["cosine_sim"]
        for r in CU.semantic_contamination_report(
            corpus, ev, exclude_same_id=True
        ).collect()
    }
    assert set(got) == {(1, 0)} and got[(1, 0)] == 1.0  # rounds to 1.0
    # DEFAULT (separate id spaces / eval-in-corpus): the eval item's
    # own corpus copy IS flagged — eval items must not train
    with_self = {
        (r["vec_id"], r["eval_id"])
        for r in CU.semantic_contamination_report(corpus, ev).collect()
    }
    assert with_self == {(1, 0), (0, 0)}
    # the planting bound: worst cases of a = v1/||v||, INCLUDING the
    # true minimizer a = -0.2 where cos = sqrt(0.96)
    lo = math.sqrt(0.96)
    for v in (
        [1.0, 0.0],
        [-1.0, 0.0],
        [0.0, 1.0],
        [3.0, -4.0],
        [-0.2, math.sqrt(1 - 0.04)],  # a = -0.2, the minimizer
    ):
        n = math.sqrt(sum(x * x for x in v))
        vp = [v[0] + 0.2 * n] + v[1:]
        num = sum(x * y for x, y in zip(v, vp))
        cos = num / (n * math.sqrt(sum(x * x for x in vp)))
        assert lo - 1e-12 <= cos <= 1.0 + 1e-12, (v, cos)


def test_decontaminate_semantic_oracle_parity(spark):
    """The registration candidate (queued r10): hash-grade parity on
    the real corpus — every planted perturbation flags against its
    source eval item, zero organic pairs (measured), 6dp cosines
    equal across engines."""
    import duckdb

    from willa_spark.queries import (
        DECONTAMINATE_SEMANTIC_ORACLE,
        q_decontaminate_semantic,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = sorted(
        tuple(r) for r in q_decontaminate_semantic(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    want = sorted(
        tuple(r) for r in con.execute(DECONTAMINATE_SEMANTIC_ORACLE).fetchall()
    )
    assert len(got) == len(want) > 0
    assert got == want
    # every flagged pair is a planted copy hitting its own source
    assert all(vid == eid + 3_000_000 for vid, eid, _ in got)


# ------------------------------------------- r15 review regressions


def test_knuth_mod32_matches_direct_and_survives_big_ids(spark):
    """The overflow-safe multiplicative-hash kernel (r15 review): for
    ids whose direct product fits in int64 the values are IDENTICAL
    to the historic expression (the DuckDB oracles' arithmetic); for
    ids past ~3.47e9 — where the direct product overflows (ANSI
    throws; non-ANSI wraps NEGATIVE and every sampling gate admits
    the doc at any rate) — the kernel still lands in [0, 2^32), and
    negative ids do too."""
    ids = [0, 1, 124, 7_919, 2**31 - 1, 3_500_000_000, 2**62, -5]
    df = spark.createDataFrame([(i,) for i in ids], "id bigint")
    got = {
        r["id"]: r["h"]
        for r in df.select(
            "id", CU._knuth_mod32(F.col("id")).alias("h")
        ).collect()
    }
    for i in ids:
        want = (i * CU.KNUTH) % CU._2_32  # Python ints never overflow
        assert got[i] == want, (i, got[i], want)
        assert 0 <= got[i] < CU._2_32
    # shard_of inherits the [0, n) contract for the same inputs
    sh = {
        r["id"]: r["s"]
        for r in df.select("id", CU.shard_of(F.col("id"), 7).alias("s")).collect()
    }
    assert all(0 <= s < 7 for s in sh.values()), sh


def test_eval_ngram_sets_duplicate_eval_id_rows_union(spark):
    """An eval_id split across rows previously double-counted n_grams
    (denominator) while collect_set capped the numerator — every
    overlap fraction halved and real contamination slipped the
    threshold (r15 review). Duplicate rows now union their gram
    sets."""
    ev = spark.createDataFrame(
        [(1, "a b c d"), (1, "a b c d")], "doc_id long, text string"
    )
    rows = CU.eval_ngram_sets(ev, n=3).collect()
    assert {r["gram"] for r in rows} == {"a b c", "b c d"}
    assert all(r["n_grams"] == 2 for r in rows), rows
    # a doc containing the whole item reports overlap 1.0, not 0.5
    docs = spark.createDataFrame([(10, "a b c d")], "doc_id long, text string")
    rep = CU.fuzzy_contamination_report(
        docs, CU.eval_ngram_sets(ev, n=3), n=3
    ).collect()
    assert len(rep) == 1 and rep[0]["overlap"] == 1.0, rep


def test_contamination_report_gram_width_mismatch_fails_loud(spark):
    """An eval gram frame built with a different n than the report
    explodes corpus-side can never join — previously it silently
    reported ZERO contamination (r15 review)."""
    ev = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    docs = spark.createDataFrame([(10, "a b c d e")], "doc_id long, text string")
    sets3 = CU.eval_ngram_sets(ev, n=3)
    with pytest.raises(Exception, match="different n"):
        CU.fuzzy_contamination_report(docs, sets3, n=4).collect()
    grams3 = CU.eval_ngrams(ev, n=3)
    with pytest.raises(Exception, match="different n"):
        CU.contamination_report(docs, grams3, n=4).collect()


def test_plant_guard_rejects_negative_ids(spark):
    """A negative id can collide with a leak id from BELOW
    (-999_876 + 1_000_000 = 124); the guard now enforces
    0 <= id < id_offset (r15 review)."""
    docs = spark.createDataFrame(
        [(-999_876, "x y z"), (124, "p q r")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="outside"):
        CU.plant_eval_leaks(docs).collect()


def test_line_dedup_stats_null_id_fails_loud(spark):
    """A NULL-id row's struct(NULL, pos) wins the min() owner election
    and the line then counts as kept NOWHERE — silently dropped
    corpus-wide; now the NULL-id kernel raises (r15 review)."""
    docs = spark.createDataFrame(
        [(None, "a b c d e f g h"), (1, "a b c d e f g h")],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="NULL doc_id"):
        CU.line_dedup_stats(docs).collect()


def test_token_budget_cap_duplicate_id_fails_loud(spark):
    """Two rows sharing (stratum, quality, id) are interchangeable
    under the window sort — the greedy cut at the budget boundary
    would be nondeterministic; fail loud per the module's
    duplicate-id discipline (r15 review). Unique ids still pass."""
    dup = spark.createDataFrame(
        [(1, "wiki", "alpha beta gamma"), (1, "wiki", "alpha beta gamma")],
        "doc_id long, source string, text string",
    )
    with pytest.raises(Exception, match="duplicate doc_id"):
        CU.token_budget_cap(dup, budget_tokens=100).collect()
    ok = spark.createDataFrame(
        [(1, "wiki", "alpha beta gamma"), (2, "wiki", "alpha beta gamma")],
        "doc_id long, source string, text string",
    )
    assert CU.token_budget_cap(ok, budget_tokens=100).count() == 2


def test_bare_string_col_hooks_fail_loud(spark):
    """keep_cols/carry_cols given a bare string would iterate
    character-by-character (r15 review)."""
    docs = spark.createDataFrame([(1, "en", "x")], "doc_id long, lang string, text string")
    with pytest.raises(TypeError, match="bare string"):
        CU.pii_redact(docs, keep_cols="lang")
    from willa_spark.functions import classifier as CLS

    with pytest.raises(TypeError, match="bare string"):
        CLS.doc_feature_vectors(docs, carry_cols="lang")
    from willa_spark.functions import lm as LM

    model = LM.bigram_lm_train(docs)
    with pytest.raises(TypeError, match="bare string"):
        LM.make_bigram_scorer(model, carry_cols="lang")


def test_scaled_twins_share_the_dup_tie_guard(spark):
    """The 'identical greedy-prefix output' contract includes the
    raise (r15 fix-review): the scaled budget/packing twins and
    pack_sequences guard duplicate-id order ties like
    token_budget_cap."""
    dup = spark.createDataFrame(
        [(1, "wiki", "alpha beta gamma"), (1, "wiki", "alpha beta gamma")],
        "doc_id long, source string, text string",
    )
    with pytest.raises(Exception, match="token_budget_cap_scaled: duplicate"):
        CU.token_budget_cap_scaled(dup, budget_tokens=100).collect()
    with pytest.raises(Exception, match="pack_sequences: duplicate"):
        CU.pack_sequences(dup, seq_len=4).collect()
    with pytest.raises(Exception, match="pack_sequences_scaled: duplicate"):
        CU.pack_sequences_scaled(dup, seq_len=4, substratum_width=10).collect()
    ok = spark.createDataFrame(
        [(1, "wiki", "alpha beta gamma"), (2, "wiki", "alpha beta gamma")],
        "doc_id long, source string, text string",
    )
    assert CU.token_budget_cap_scaled(ok, budget_tokens=100).count() == 2
    assert CU.pack_sequences(ok, seq_len=4).count() == 2
    assert CU.pack_sequences_scaled(ok, seq_len=4, substratum_width=10).count() == 2


def test_plant_guard_rejects_null_ids(spark):
    """A NULL id made the whole guard predicate NULL and fell through
    to otherwise — the one row silently bypassing the module's
    NULL-id discipline (r15 fix-review)."""
    docs = spark.createDataFrame(
        [(None, "x y z"), (124, "p q r")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="outside"):
        CU.plant_eval_leaks(docs).collect()
