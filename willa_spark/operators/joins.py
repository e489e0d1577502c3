"""Join operators — batch forms of the reference's five join shapes
(SURVEY §2.5, J1-J9). Behavioral contract comes from the reference's
in-memory oracle (experiment.clj:10-81); implementation is Spark-first:

- Windowed stream-stream joins are a key-equi join with a time-band
  predicate — Catalyst executes them as a sort-merge join on key with
  the band as a post-filter (one shuffle per side).
- As-of (table) joins do NOT use a range join (quadratic blowup at
  scale); they use the union + running ``last(ignorenulls)`` window
  trick: one shuffle by key total, linear state, the canonical
  big-data as-of pattern.
- Global-table joins broadcast the (small) latest state — no shuffle
  on the stream side at all.

Record contract: inputs/outputs are record DataFrames with columns
(key, value, timestamp, __seq); join values are positional ARRAYs
[v_left, v_right(, v_n...)] with NULL for the unmatched side, matching
the reference's tuple values (streams.clj:118-122, FIXTURES.md §1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import KEY, TIMESTAMP, VALUE
from .aggregates import SEQ
from .tables import latest_per_key

RECORD_COLS = [KEY, VALUE, TIMESTAMP, SEQ]


def _records(df: DataFrame) -> DataFrame:
    return df.select(*RECORD_COLS)


def merge(dfs: list[DataFrame]) -> DataFrame:
    """J4: plain union of streams (streams.clj:79-82; also the implicit
    multi-parent combine, experiment.clj:196-208)."""
    out = _records(dfs[0])
    for d in dfs[1:]:
        out = out.unionByName(_records(d))
    return out


def _band_cond(
    left_ts: Column, right_key: Column, right_ts: Column, before_ms: int, after_ms: int
) -> Column:
    """The ONE windowed-join predicate (key equality + inclusive time
    band t_r ∈ [t_l − before, t_l + after], streams.clj:60-76): shared
    by the full join and the semi/anti variants so a band-semantics
    fix can never apply to one and not the other."""
    return (
        (F.col(KEY) == right_key)
        & (right_ts >= left_ts - F.lit(int(before_ms)))
        & (right_ts <= left_ts + F.lit(int(after_ms)))
    )


def _value_can_be_null(field: T.StructField) -> bool:
    """True unless the value field PROVES the column holds no NULLs
    (non-nullable, and for an already-tupled array side no NULL
    elements either)."""
    if field.nullable:
        return True
    dt = field.dataType
    return isinstance(dt, T.ArrayType) and dt.containsNull


def _tuple_value(
    left_v: Column,
    right_v: Column,
    left_arity: int,
    right_arity: int,
    mode: str = "array",
) -> Column:
    """Positional join tuple. A side that is itself a join tuple
    (arity > 1) is concatenated, reproducing the reference's n-ary
    ``conj`` fold (streams.clj:115-123, experiment.clj:141-149). A NULL
    side becomes ``arity`` NULL elements.

    mode="array": homogeneous value types — ARRAY with NULL slots
    (the reference-parity representation, FIXTURES.md §1).
    mode="struct": heterogeneous value types — STRUCT with fields
    _1.._n (the Spark-first representation; unmatched side = NULL
    fields)."""
    if mode == "array":
        def side(v: Column, arity: int) -> Column:
            if arity == 1:
                return F.array(v)
            return F.coalesce(v, F.array(*[F.lit(None) for _ in range(arity)]))

        return F.concat(side(left_v, left_arity), side(right_v, right_arity))

    def fields(v: Column, arity: int, offset: int) -> list[Column]:
        if arity == 1:
            return [v.alias(f"_{offset + 1}")]
        return [v[f"_{i + 1}"].alias(f"_{offset + i + 1}") for i in range(arity)]

    return F.struct(*fields(left_v, left_arity, 0), *fields(right_v, right_arity, left_arity))


def windowed_stream_join(
    left: DataFrame,
    right: DataFrame,
    before_ms: int,
    after_ms: int,
    emit_unjoined_left: bool,
    emit_unjoined_right: bool,
    left_arity: int = 1,
    right_arity: int = 1,
    tuple_mode: str = "array",
) -> DataFrame:
    """J1-J3 (streams.clj:60-76; oracle experiment.clj:10-34).

    Matches keys with t_r ∈ [t_l − before, t_l + after]; joined value =
    [v_l, v_r], ts = max(t_l, t_r). Left/outer also emit every
    left/right record with a NULL partner — then the oracle's dedup
    rule: group results by (timestamp, key) and, where a group has >1
    record, drop the ones containing NULL (experiment.clj:27-34).
    """
    l_value, r_value = left.schema[VALUE], right.schema[VALUE]
    l = left.select(
        F.col(KEY), F.col(VALUE).alias("__lv"), F.col(TIMESTAMP).alias("__lts"), F.col(SEQ).alias("__lseq")
    )
    r = right.select(
        F.col(KEY).alias("__rkey"), F.col(VALUE).alias("__rv"), F.col(TIMESTAMP).alias("__rts"), F.col(SEQ).alias("__rseq")
    )
    cond = _band_cond(
        F.col("__lts"), F.col("__rkey"), F.col("__rts"), before_ms, after_ms
    )
    joined = l.join(r, cond, "inner").select(
        F.col(KEY),
        _tuple_value(F.col("__lv"), F.col("__rv"), left_arity, right_arity, tuple_mode).alias(VALUE),
        F.greatest(F.col("__lts"), F.col("__rts")).alias(TIMESTAMP),
        F.greatest(F.col("__lseq"), F.col("__rseq")).alias(SEQ),
    )
    parts = [joined]
    null_right = F.lit(None).cast(r_value.dataType)
    null_left = F.lit(None).cast(l_value.dataType)
    if emit_unjoined_left:
        parts.append(
            l.select(
                F.col(KEY),
                _tuple_value(F.col("__lv"), null_right, left_arity, right_arity, tuple_mode).alias(VALUE),
                F.col("__lts").alias(TIMESTAMP),
                F.col("__lseq").alias(SEQ),
            )
        )
    if emit_unjoined_right:
        parts.append(
            r.select(
                F.col("__rkey").alias(KEY),
                _tuple_value(null_left, F.col("__rv"), left_arity, right_arity, tuple_mode).alias(VALUE),
                F.col("__rts").alias(TIMESTAMP),
                F.col("__rseq").alias(SEQ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if len(parts) == 1 and not (
        _value_can_be_null(l_value) or _value_can_be_null(r_value)
    ):
        # inner join over PROVABLY non-null values: the dedup pass
        # below is a no-op (no tuple can contain NULL), so skip its
        # window exchange — material at scale
        return out
    # oracle dedup rule (experiment.clj:30-34) — applied to EVERY join
    # type, including inner: the reference's group-by/mapcat pass is
    # unconditional (`true (group-by ...)`), so an inner join whose
    # source values are legitimately NULL must also drop the
    # NULL-containing members of a >1-record (timestamp, key) group
    grp = W.partitionBy(F.col(TIMESTAMP), F.col(KEY))
    if tuple_mode == "array":
        has_null = F.exists(F.col(VALUE), lambda x: x.isNull())
    else:
        n_fields = left_arity + right_arity
        has_null = F.lit(False)
        for i in range(n_fields):
            has_null = has_null | F.col(VALUE)[f"_{i + 1}"].isNull()
    return (
        out.withColumn("__n", F.count(F.lit(1)).over(grp))
        .filter(~((F.col("__n") > 1) & has_null))
        .drop("__n")
    )


def windowed_stream_semi_join(
    left: DataFrame,
    right: DataFrame,
    before_ms: int,
    after_ms: int,
    anti: bool = False,
) -> DataFrame:
    """Spark-extra join types (model.JOIN_TYPES' left_semi/left_anti —
    SURVEY §2.5 free wins; no reference analogue, Spark semantics):
    emit each LEFT record unchanged (value NOT tupled) iff it has ≥1
    (semi) / 0 (anti) key-equal right record inside the time band.
    Same equi-key + band plan shape as the full join, but Spark's
    native LeftSemi/LeftAnti never materializes the match — no
    fan-out, no dedup pass needed."""
    l = _records(left)
    r = right.select(
        F.col(KEY).alias("__rkey"), F.col(TIMESTAMP).alias("__rts")
    )
    cond = _band_cond(
        F.col(TIMESTAMP), F.col("__rkey"), F.col("__rts"), before_ms, after_ms
    )
    return l.join(r, cond, "left_anti" if anti else "left_semi")


def as_of_semi_join(
    driving: DataFrame, other: DataFrame, anti: bool = False
) -> DataFrame:
    """Spark-extra left_semi/left_anti for the as-of shapes
    (stream⋈table and the left-driven face of table⋈table): emit each
    driving record unchanged iff the other side has (semi) / lacks
    (anti) a state as of the record's timestamp. Shares
    ``_as_of_lookup``'s one-shuffle union+window plan."""
    looked = _as_of_lookup(driving, other)
    present = F.col("__other").isNotNull()
    return looked.filter(~present if anti else present).select(*RECORD_COLS)


def _as_of_lookup(driving: DataFrame, other: DataFrame) -> DataFrame:
    """For every ``driving`` record, find the latest ``other`` record
    with the same key and ts ≤ driving.ts (ties: other-side first, then
    arrival order) — the oracle's lookup (experiment.clj:44-47,70-73).

    Union + running ``last(..., ignorenulls)`` — one shuffle by key,
    linear, skew-tolerant; never a range join.

    Returns the driving records plus ``__other`` (struct value/ts/seq,
    NULL when no match yet), with the helper columns ``__other_in`` and
    ``__side`` still in place: every caller projects its own columns.
    """
    d = driving.select(
        *RECORD_COLS,
        F.lit(None).cast(
            f"struct<{VALUE}:{other.schema[VALUE].dataType.simpleString()},{TIMESTAMP}:bigint,{SEQ}:bigint>"
        ).alias("__other_in"),
        F.lit(1).alias("__side"),
    )
    o = other.select(
        F.col(KEY),
        F.lit(None).cast(driving.schema[VALUE].dataType).alias(VALUE),
        F.col(TIMESTAMP),
        F.col(SEQ),
        F.struct(
            F.col(VALUE).alias(VALUE), F.col(TIMESTAMP).alias(TIMESTAMP), F.col(SEQ).alias(SEQ)
        ).alias("__other_in"),
        F.lit(0).alias("__side"),
    )
    u = d.unionByName(o)
    w = (
        W.partitionBy(KEY)
        .orderBy(F.col(TIMESTAMP).asc(), F.col("__side").asc(), F.col(SEQ).asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return u.withColumn(
        "__other", F.last(F.col("__other_in"), ignorenulls=True).over(w)
    ).filter(F.col("__side") == 1)


def table_table_join(
    left: DataFrame,
    right: DataFrame,
    require_left: bool,
    require_right: bool,
    left_arity: int = 1,
    right_arity: int = 1,
    tuple_mode: str = "array",
) -> DataFrame:
    """J5 (streams.clj:84-97; oracle experiment.clj:37-62): every update
    on either side emits a record joining it with the other side's
    latest state as of that update's timestamp — both directions are
    emitted (experiment.clj:55), then filtered by the presence flags.
    NOTE the reference's flag naming is inverted for tables: 'inner'
    requires both sides present, 'left' requires the left side, 'outer'
    requires nothing (experiment.clj:108-121); we take explicit
    require_* booleans to avoid the trap (SURVEY §2.5 wrinkles)."""
    left_driven = _as_of_lookup(left, right).select(
        F.col(KEY),
        _tuple_value(F.col(VALUE), F.col(f"__other.{VALUE}"), left_arity, right_arity, tuple_mode).alias(VALUE),
        F.greatest(F.col(TIMESTAMP), F.coalesce(F.col(f"__other.{TIMESTAMP}"), F.lit(0))).alias(TIMESTAMP),
        F.col(SEQ),
        F.lit(True).alias("__l_present"),
        F.col("__other").isNotNull().alias("__r_present"),
    )
    right_driven = _as_of_lookup(right, left).select(
        F.col(KEY),
        _tuple_value(F.col(f"__other.{VALUE}"), F.col(VALUE), left_arity, right_arity, tuple_mode).alias(VALUE),
        F.greatest(F.col(TIMESTAMP), F.coalesce(F.col(f"__other.{TIMESTAMP}"), F.lit(0))).alias(TIMESTAMP),
        F.col(SEQ),
        F.col("__other").isNotNull().alias("__l_present"),
        F.lit(True).alias("__r_present"),
    )
    out = left_driven.unionByName(right_driven)
    if require_left and require_right:
        out = out.filter(F.col("__l_present") & F.col("__r_present"))
    elif require_left or require_right:
        out = out.filter(F.col("__l_present" if require_left else "__r_present"))
    return out.drop("__l_present", "__r_present")


def stream_table_join(
    stream: DataFrame,
    table: DataFrame,
    require_table: bool,
    left_arity: int = 1,
    right_arity: int = 1,
    tuple_mode: str = "array",
) -> DataFrame:
    """J6 (streams.clj:100-102; oracle experiment.clj:64-81): enrich each
    stream record with the table's latest value as of the record's
    timestamp. Stream-driven only — table updates alone emit nothing."""
    out = _as_of_lookup(stream, table).select(
        F.col(KEY),
        _tuple_value(F.col(VALUE), F.col(f"__other.{VALUE}"), left_arity, right_arity, tuple_mode).alias(VALUE),
        F.col(TIMESTAMP),
        F.col(SEQ),
        F.col("__other").isNotNull().alias("__r_present"),
    )
    if require_table:
        out = out.filter(F.col("__r_present"))
    return out.drop("__r_present")


def global_table_join(
    stream: DataFrame,
    table_records: DataFrame,
    how: str,
    kv_mapper=None,
    left_arity: int = 1,
    tuple_mode: str = "array",
) -> DataFrame:
    """J7 (streams.clj:104-112, core.clj:52-53; golden tests
    core_test.clj:99-152): lookup-join against a fully-replicated table.
    Join key = kv_mapper(key_col, value_col), default the record key.
    The table side is the topic's latest state per key, broadcast —
    at scale this is the classic dim-table broadcast join, zero shuffle
    on the fact stream. ``how`` also accepts the Spark-extra
    left_semi/left_anti (record passes through un-tupled iff the
    lookup hits / misses)."""
    if how not in ("inner", "left", "left_semi", "left_anti"):
        raise ValueError(
            f"global-table join type {how!r} unsupported (expected "
            "inner/left/left_semi/left_anti — streams.clj:104-112 has "
            "only inner/left; semi/anti are the Spark extras)"
        )
    dim = latest_per_key(_records(table_records)).select(
        F.col(KEY).alias("__tkey"), F.col(VALUE).alias("__tv")
    )
    join_key = kv_mapper(F.col(KEY), F.col(VALUE)) if kv_mapper else F.col(KEY)
    s = _records(stream).withColumn("__jk", join_key)
    joined = s.join(F.broadcast(dim), F.col("__jk") == F.col("__tkey"), how)
    if how in ("left_semi", "left_anti"):
        return joined.select(*RECORD_COLS)
    return joined.select(
        F.col(KEY),
        _tuple_value(F.col(VALUE), F.col("__tv"), left_arity, 1, tuple_mode).alias(VALUE),
        F.col(TIMESTAMP),
        F.col(SEQ),
    )
