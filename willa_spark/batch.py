"""Batch compiler — executes a topology dict over batch DataFrames.

This is the engine's analogue of the reference's pure in-memory
interpreter ``run-experiment`` (experiment.clj:241-255): seed topics
with input records, topsort the workflow, fold over nodes computing
each entity's full output changelog from its parents. It doubles as
(a) the REPL/debug engine and (b) the correctness oracle for the
streaming compiler — mirroring the reference's experiment-vs-
TopologyTestDriver strategy (SURVEY §5).

Differences from the reference's interpreter, by design:
- Everything is a lazy Spark DataFrame — nothing is materialized until
  a sink/collect; Catalyst optimizes across entity boundaries (filter
  pushdown through upstream transforms, join reordering, broadcast
  selection). The reference interprets eagerly, record-by-record.
- Arrival order is explicit: every record carries a ``__seq`` ordinal
  (per-entity offset + input index) because distributed DataFrames have
  no implicit input order; (timestamp, __seq) is the canonical record
  order everywhere the reference sorts by timestamp with a stable sort.

Record contract: every entity output is a DataFrame with columns
(key, value, timestamp:bigint epoch-millis, __seq:bigint).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import model
from .model import KEY, TIMESTAMP, VALUE
from .operators.aggregates import SEQ, running_fold, final_only
from .operators import joins as J
from .operators.windows import (
    WINDOW_END,
    WINDOW_START,
    HoppingWindow,
    SessionWindow,
    TumblingWindow,
    assign_session_windows,
    assign_time_windows,
)
from .transforms import apply_xform
from .validate import validate

GKEY = "__gkey"
_ENTITY_SEQ_STRIDE = 1 << 33  # seq-space per entity: keeps arrival ordinals disjoint


def seed_records(
    spark: SparkSession,
    records,
    key_type: str = "string",
    value_type: str = "bigint",
    seq_offset: int = 0,
) -> DataFrame:
    """Build a record DataFrame from a list of (key, value, ts_ms)
    tuples or {key,value,timestamp} dicts; list order = arrival order."""
    rows = []
    for i, r in enumerate(records):
        if isinstance(r, dict):
            k, v, ts = r[KEY], r[VALUE], r[TIMESTAMP]
        else:
            k, v, ts = r
        rows.append((k, v, int(ts), seq_offset + i))
    schema = f"{KEY} {key_type}, {VALUE} {value_type}, {TIMESTAMP} bigint, {SEQ} bigint"
    return spark.createDataFrame(rows, schema=schema)


def normalize_records(df: DataFrame, seq_offset: int = 0) -> DataFrame:
    """Coerce an arbitrary (key, value, timestamp[, __seq]) DataFrame to
    the internal record contract: ms-long timestamps + arrival seq.

    The seq for DataFrame sources is a DETERMINISTIC content hash, not
    ``monotonically_increasing_id``: a nondeterministic projection at
    the source would block Catalyst from pushing any downstream filter
    into the scan (verified on the physical plan — PushedFilters went
    empty), which is unacceptable at 100 TB. Distributed files have no
    meaningful arrival order anyway; list-seeded test inputs get exact
    arrival ordinals via ``seed_records`` instead."""
    schema = df.schema
    if isinstance(schema[TIMESTAMP].dataType, T.TimestampType):
        ts = F.unix_millis(F.col(TIMESTAMP))
    else:
        ts = F.col(TIMESTAMP).cast("bigint")
    if SEQ in schema.fieldNames():
        return df.select(KEY, VALUE, ts.alias(TIMESTAMP), SEQ)
    # the entity offset is a HASH INPUT, not an addend: under Spark 4's
    # default ANSI mode `xxhash64(...) + offset` throws on the (rare, but
    # expected-at-100-TB) records whose full-range hash lands within
    # offset of Long.MAX, and an addend could never keep uniform
    # full-range hashes disjoint per entity anyway — seeding the hash
    # gives each entity an independent deterministic ordinal space
    seq = F.xxhash64(
        F.lit(seq_offset), F.col(KEY).cast("string"), F.col(VALUE).cast("string"), ts
    )
    return df.select(KEY, VALUE, ts.alias(TIMESTAMP), seq.alias(SEQ))


class TopologyRunner:
    """Compile + run a topology over batch inputs.

    ``inputs``: {entity_id: DataFrame | list-of-records}; alternatively
    each topic entity may carry a ``source`` (DataFrame, path str, or
    callable(spark) -> DataFrame).
    """

    def __init__(self, spark: SparkSession, topology: dict):
        self.spark = spark
        self.topology = topology
        self.order = validate(topology)
        self.entities = topology["entities"]
        self._persisted: list[DataFrame] = []

    def unpersist(self, blocking: bool = False) -> None:
        """Release the fan-out caches from previous ``run()`` calls.
        ``run()`` persists every multi-consumer node and those cached
        partitions otherwise live until the SparkSession dies — a
        REPL loop calling ``run()`` repeatedly would grow executor
        storage unboundedly (r15 review). Call this when the returned
        DataFrames are no longer needed; ``run()`` itself never
        auto-releases, because the caller's previous results remain
        live views over the caches."""
        for df in self._persisted:
            df.unpersist(blocking)
        self._persisted.clear()

    # -- seeding ---------------------------------------------------------
    def _seed(self, eid: str, ent: dict, inputs: dict, seq_offset: int) -> DataFrame | None:
        src = inputs.get(eid, ent.get("source"))
        if src is None and ent.get("file"):
            from .sources.files import read_records

            src = read_records(self.spark, ent["file"], streaming=False)
        if src is None:
            return None
        if callable(src) and not isinstance(src, DataFrame):
            src = src(self.spark)
        if isinstance(src, DataFrame):
            return normalize_records(src, seq_offset)
        if isinstance(src, str):
            return normalize_records(self.spark.read.parquet(src), seq_offset)
        key_type = ent.get("key_type", "string")
        value_type = ent.get("value_type", "bigint")
        return seed_records(self.spark, src, key_type, value_type, seq_offset)

    # -- join / merge of parents ----------------------------------------
    def _joinable_type(self, eid: str) -> str:
        return model.joinable_type(self.entities, eid)

    def _empty_records(self, eid: str, like: DataFrame | None = None) -> DataFrame:
        """Typed empty record frame for an output-less entity (no seed,
        no source, no producing parents): the reference gives such an
        entity a nil ::output, and its JOINS still run — a left join
        against a nil leg emits [v, nil] tuples (experiment.clj
        join-*-results with nil right-results), it does not change the
        join's shape. Types come from the entity config when set, else
        MIRROR the live sibling leg ``like``: intermediate entities
        rarely carry key_type/value_type, and a bigint default against
        a string-valued live leg would make the array tuple's concat
        heterogeneous — an ANSI analysis error (r15 review). The empty
        leg's value slot is always NULL, so mirroring is sound for any
        value type."""
        ent = self.entities[eid]
        if like is not None:
            kt = ent.get("key_type") or like.schema[KEY].dataType.simpleString()
            vt = ent.get("value_type") or like.schema[VALUE].dataType.simpleString()
        else:
            kt = ent.get("key_type", "string")
            vt = ent.get("value_type", "bigint")
        schema = f"{KEY} {kt}, {VALUE} {vt}, {TIMESTAMP} bigint, {SEQ} bigint"
        return self.spark.createDataFrame([], schema=schema)

    def _combine_parents(self, node: str, outputs: dict) -> DataFrame | None:
        parents = model.parents_of(self.topology, node)
        live = [p for p in parents if outputs.get(p) is not None]
        if not live:
            return None
        order, cfg = model.get_join(self.topology, parents)
        if order is None or cfg is None or cfg.get("type", "merge") == "merge":
            if len(live) == 1:
                return outputs[live[0]]
            return J.merge([outputs[p] for p in live])
        # fold pairwise in join-config order (streams.clj:115-123);
        # within one fold the tuple widens ([v1 v2] conj v3 ...); across
        # nodes every entity's value is opaque again (arity 1).
        # An output-less leg participates as a typed EMPTY frame — the
        # reference joins against a nil leg, it never silently drops
        # the leg (which would untuple the values and swap left/right
        # roles; r15 review).
        like = outputs[live[0]]

        def leg(p: str) -> DataFrame:
            out = outputs.get(p)
            return out if out is not None else self._empty_records(p, like=like)

        acc_df = leg(order[0])
        acc_type = self._joinable_type(order[0])
        acc_arity = 1
        for other_id in order[1:]:
            acc_df = self._join_pair(
                cfg, acc_df, acc_type, acc_arity, leg(other_id), other_id
            )
            acc_arity += 1
            # accumulated entity keeps the first leg's type (experiment.clj:141-149)
        return acc_df

    def _join_pair(
        self, cfg: dict, left_df: DataFrame, left_type: str, left_arity: int,
        right_df: DataFrame, right_id: str,
    ) -> DataFrame:
        jt = cfg.get("type", "merge")
        right_type = self._joinable_type(right_id)
        right_arity = 1
        mode = cfg.get("tuple_mode", "array")
        if right_type == model.GLOBAL_KTABLE:
            # J7: broadcast lookup join; reference has inner/left
            # (streams.clj:104-112), semi/anti are the Spark extras
            return J.global_table_join(
                left_df, right_df, jt, cfg.get("kv_mapper"), left_arity, tuple_mode=mode
            )
        if jt in ("left_semi", "left_anti"):
            # Spark-extra types (model.JOIN_TYPES; SURVEY §2.5 free
            # wins): emit the LEFT record un-tupled iff a match exists
            # (semi) / does not (anti). Previously these passed
            # validate then died in a bare KeyError here (r15 review).
            anti = jt == "left_anti"
            if left_type == model.KSTREAM and right_type == model.KSTREAM:
                before, after = cfg.get("window", (0, 0))
                return J.windowed_stream_semi_join(
                    left_df, right_df, before, after, anti=anti
                )
            return J.as_of_semi_join(left_df, right_df, anti=anti)
        if left_type == model.KSTREAM and right_type == model.KSTREAM:
            before, after = cfg.get("window", (0, 0))
            flags = {"inner": (False, False), "left": (True, False), "outer": (True, True)}[jt]
            return J.windowed_stream_join(
                left_df, right_df, before, after, *flags,
                left_arity=left_arity, right_arity=right_arity, tuple_mode=mode,
            )
        if left_type == model.KTABLE and right_type == model.KTABLE:
            # inverted flag semantics for tables (experiment.clj:108-121)
            req = {"inner": (True, True), "left": (True, False), "outer": (False, False)}[jt]
            return J.table_table_join(
                left_df, right_df, *req,
                left_arity=left_arity, right_arity=right_arity, tuple_mode=mode,
            )
        if left_type == model.KSTREAM and right_type == model.KTABLE:
            if jt not in ("inner", "left"):
                # the reference defines no [:outer :kstream :ktable]
                # method — fail naming the rule, never a KeyError
                # (validate also rejects this at compile time)
                raise ValueError(
                    f"stream⋈table join type {jt!r} unsupported: the "
                    "reference defines only inner/left "
                    "(experiment.clj:123-135); semi/anti are handled "
                    "above"
                )
            require_table = {"inner": True, "left": False}[jt]
            return J.stream_table_join(
                left_df, right_df, require_table,
                left_arity=left_arity, right_arity=right_arity, tuple_mode=mode,
            )
        raise ValueError(
            f"unsupported join shape: {jt} {left_type}⋈{right_type} (right={right_id!r})"
        )

    # -- per-entity-type node builders ----------------------------------
    def _ktable_output(self, ent: dict, df: DataFrame) -> DataFrame:
        has_agg = "aggregate" in ent
        if not has_agg:
            return df  # changelog passthrough (F5); latest-state derived at join time
        group_by = ent.get("group_by")
        if group_by is not None:
            df = df.withColumn(GKEY, group_by(F.col(KEY), F.col(VALUE)))
        else:
            df = df.withColumn(GKEY, F.col(KEY))  # group-by-key default (streams.clj:36)
        group_cols = [GKEY]
        win = ent.get("window")
        retract = bool(ent.get("retract"))
        if retract and isinstance(win, SessionWindow):
            # a retracted record can split/merge sessions it used to
            # bridge — the gap structure itself changes, not just the
            # fold value, so signed contributions can't express it
            raise NotImplementedError(
                "session windows + retraction: removing a record changes the "
                "session gap split; re-derive the table without retract"
            )
        if retract:
            # Retractions are computed BEFORE window assignment: the
            # sign=-1 event must land in the OLD record's windows (its
            # original timestamp decides those), while the fold orders
            # it by the NEW record's (timestamp, seq).  __win_ts carries
            # the window-targeting time per signed row.
            df = self._with_retractions(df)
        if win is not None:
            if isinstance(win, (TumblingWindow, HoppingWindow)):
                ts_col = "__win_ts" if retract else TIMESTAMP
                df = assign_time_windows(df, ts_col, win.size_ms, win.advance_ms)
            elif isinstance(win, SessionWindow):
                df = assign_session_windows(
                    df, TIMESTAMP, win.gap_ms, [GKEY], [F.col(TIMESTAMP).asc(), F.col(SEQ).asc()]
                )
            else:
                raise ValueError(f"unknown window spec: {win!r}")
            group_cols = [GKEY, WINDOW_START, WINDOW_END]
        if retract:
            df = df.drop("__win_ts")
        agg = ent["aggregate"]
        folded = running_fold(df, agg, group_cols, F.col(GKEY), with_retraction=retract)
        if ent.get("suppress"):
            folded = final_only(folded, group_cols)  # A6: emit-final-only
        if ent.get("emit_window") and win is not None:
            # congruity-friendly windowed emission: value carries its
            # window start (streaming compiler emits the same shape)
            folded = folded.withColumn(
                VALUE,
                F.struct(F.col(WINDOW_START).alias("win"), F.col(VALUE).alias("v")),
            )
        return folded.select(KEY, VALUE, TIMESTAMP, SEQ)

    @staticmethod
    def _with_retractions(df: DataFrame) -> DataFrame:
        """A5 subtractor support: a re-grouped upsert retracts the old
        value's contribution from its old group (streams.clj:44-50).
        Emits a sign=-1 event carrying the previous (value, group) next
        to each update that replaces one.  ``__win_ts`` is the
        window-targeting timestamp: the add contributes to the new
        record's windows, the retraction to the OLD record's windows,
        while both carry the new record's (timestamp, seq) so the fold
        emits the correction at the time of the change."""
        from pyspark.sql import Window as W

        w = W.partitionBy(KEY).orderBy(F.col(TIMESTAMP).asc(), F.col(SEQ).asc())
        tagged = (
            df.withColumn("__prev_v", F.lag(F.col(VALUE)).over(w))
            .withColumn("__prev_g", F.lag(F.col(GKEY)).over(w))
            .withColumn("__prev_ts", F.lag(F.col(TIMESTAMP)).over(w))
        )
        adds = tagged.select(
            KEY, VALUE, TIMESTAMP, SEQ, GKEY,
            F.lit(1).alias("__sign"),
            F.col(TIMESTAMP).alias("__win_ts"),
        )
        subs = (
            tagged.filter(F.col("__prev_v").isNotNull())
            .select(
                F.col(KEY),
                F.col("__prev_v").alias(VALUE),
                F.col(TIMESTAMP),
                F.col(SEQ),
                F.col("__prev_g").alias(GKEY),
                F.lit(-1).alias("__sign"),
                F.col("__prev_ts").alias("__win_ts"),
            )
        )
        return adds.unionByName(subs)

    # -- run -------------------------------------------------------------
    def run(self, inputs: dict[str, Any] | None = None) -> dict[str, DataFrame]:
        inputs = inputs or {}
        outputs: dict[str, DataFrame | None] = {}
        seeds: dict[str, DataFrame] = {}
        for i, (eid, ent) in enumerate(self.entities.items()):
            seeded = self._seed(eid, ent, inputs, seq_offset=i * _ENTITY_SEQ_STRIDE)
            if seeded is not None:
                seeds[eid] = seeded
        for node in self.order:
            ent = self.entities[node]
            etype = ent["type"]
            if "build" in ent:
                # build-override hook (reference build-topology-unsafe!,
                # core.clj:122-136): replace this node's construction
                parent_dfs = {
                    p: outputs[p]
                    for p in model.parents_of(self.topology, node)
                    if outputs.get(p) is not None
                }
                computed = ent["build"](self.spark, parent_dfs, ent)
                shaped = False
            else:
                combined = self._combine_parents(node, outputs)
                # parent outputs, merges, joins and ktable folds all come
                # out as (key, value, timestamp, __seq); only an xform
                # can change the shape
                shaped = etype != model.KSTREAM or ent.get("xform") is None
                if etype == model.TOPIC:
                    computed = combined  # experiment.clj:196-202
                elif etype == model.KSTREAM:
                    computed = (
                        apply_xform(combined, ent.get("xform")) if combined is not None else None
                    )
                elif etype == model.KTABLE:
                    computed = self._ktable_output(ent, combined) if combined is not None else None
                elif etype == model.GLOBAL_KTABLE:
                    computed = combined  # passthrough; latest-state at join time (core.clj:109-118)
                else:  # pragma: no cover
                    raise AssertionError(etype)
            if computed is not None and not shaped:
                computed = computed.select(KEY, VALUE, TIMESTAMP, SEQ)
            seed = seeds.get(node)
            if seed is not None and computed is not None:
                out = seed.unionByName(computed)
            else:
                out = computed if computed is not None else seed
            if out is not None and len(model.children_of(self.topology, node)) > 1 and ent.get(
                "persist", True
            ):
                # re-materialization avoidance (reference streams.clj:28-32
                # store reuse; SURVEY §4): a fan-out node would otherwise be
                # recomputed once per consumer in the lazy DAG
                out = out.persist()
                self._persisted.append(out)
            outputs[node] = out
        return {k: v for k, v in outputs.items() if v is not None}


def run_topology(
    spark: SparkSession, topology: dict, inputs: dict[str, Any] | None = None
) -> dict[str, DataFrame]:
    """One-shot convenience: validate, compile, run; returns
    {entity_id: record DataFrame} for every entity with output
    (the reference's ``results-only``, experiment.clj:258-263)."""
    return TopologyRunner(spark, topology).run(inputs)


def collect_records(df: DataFrame, with_timestamp: bool = False) -> list[tuple]:
    """Deterministic materialization for tests: sorted by (timestamp,
    __seq) like the reference's output ordering (experiment.clj:253-254),
    projected to (key, value[, timestamp])."""
    rows = df.orderBy(F.col(TIMESTAMP).asc(), F.col(SEQ).asc()).collect()

    def _hashable(v):
        return tuple(v) if isinstance(v, list) else v

    if with_timestamp:
        return [(r[KEY], _hashable(r[VALUE]), r[TIMESTAMP]) for r in rows]
    return [(r[KEY], _hashable(r[VALUE])) for r in rows]
