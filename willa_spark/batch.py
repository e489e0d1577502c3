"""Batch compiler — executes a topology dict over batch DataFrames.

The engine's analogue of willa's in-memory interpreter ``run-experiment``
(experiment.clj:241-255): seed topics with input records, then walk the
topology (``walk.TopologyWalk``, shared with the streaming compiler),
computing each entity's full output changelog from its parents. It is
the REPL/debug engine and the correctness oracle for the streaming
compiler (SURVEY §5). This module holds only the batch operators:
seeding, typed empty join legs, the ``operators.joins`` joins, the ktable
fold and the fan-out persist.

Differences from the reference's interpreter, by design:
- Everything is a lazy Spark DataFrame — nothing is materialized until
  a sink/collect; Catalyst optimizes across entity boundaries. The
  reference interprets eagerly, record-by-record.
- Arrival order is explicit: every record carries a ``__seq`` ordinal
  because distributed DataFrames have no implicit input order;
  (timestamp, __seq) is the canonical record order everywhere the
  reference sorts by timestamp with a stable sort.

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
from .sources.parquet import read_parquet
from .validate import validate
from .walk import TopologyWalk

GKEY = "__gkey"
_ENTITY_SEQ_STRIDE = 1 << 33  # seq-space per entity: keeps arrival ordinals disjoint
_SEMI_ANTI = ("left_semi", "left_anti")


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


class TopologyRunner(TopologyWalk):
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
        self._seeds: dict[str, DataFrame] = {}

    def unpersist(self, blocking: bool = False) -> None:
        """Release the fan-out caches from previous ``run()`` calls.
        ``run()`` persists every multi-consumer node and those cached
        partitions otherwise live until the SparkSession dies — a
        REPL loop calling ``run()`` repeatedly would grow executor
        storage unboundedly. Call this when the returned DataFrames are
        no longer needed; ``run()`` itself never auto-releases, because
        the caller's previous results remain live views over the
        caches."""
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
            return normalize_records(read_parquet(self.spark, src), seq_offset)
        key_type = ent.get("key_type", "string")
        value_type = ent.get("value_type", "bigint")
        return seed_records(self.spark, src, key_type, value_type, seq_offset)

    # -- merge and join legs ---------------------------------------------
    def _empty_records(self, eid: str, like: DataFrame) -> DataFrame:
        """Typed empty record frame for an output-less join leg (no seed,
        no source, no producing parents): the reference gives such an
        entity a nil ::output, and its joins still run — a left join
        against a nil leg emits [v, nil] tuples (experiment.clj
        join-*-results with nil right-results), it does not change the
        join's shape. Types come from the entity config when set, else
        mirror the live sibling leg ``like``: intermediate entities
        rarely carry key_type/value_type, and a bigint default against
        a string-valued live leg would make the array tuple's concat
        heterogeneous — an ANSI analysis error. The empty leg's value
        slot is always NULL, so mirroring is sound for any value type."""
        ent = self.entities[eid]
        kt = ent.get("key_type") or like.schema[KEY].dataType.simpleString()
        vt = ent.get("value_type") or like.schema[VALUE].dataType.simpleString()
        schema = f"{KEY} {kt}, {VALUE} {vt}, {TIMESTAMP} bigint, {SEQ} bigint"
        return self.spark.createDataFrame([], schema=schema)

    def _merge(self, node: str, frames: list[DataFrame]) -> DataFrame:
        return frames[0] if len(frames) == 1 else J.merge(frames)

    def _legs(self, node: str, ordered: list[str], outputs: dict) -> list[DataFrame] | None:
        # an output-less leg joins as a typed empty frame; dropping it
        # would untuple the values and swap left/right roles
        live = [outputs[p] for p in ordered if outputs.get(p) is not None]
        if not live:
            return None
        return [
            outputs[p] if outputs.get(p) is not None else self._empty_records(p, like=live[0])
            for p in ordered
        ]

    # -- join operators, one per walk.JOIN_SHAPES operator ----------------
    def _join_global_table(self, node, cfg, step, left, right) -> DataFrame:
        # broadcast lookup join; reference has inner/left (streams.clj:104-112)
        return J.global_table_join(
            left, right, cfg["type"], cfg.get("kv_mapper"), step.left_arity,
            tuple_mode=cfg.get("tuple_mode", "array"),
        )

    def _join_stream_stream(self, node, cfg, step, left, right) -> DataFrame:
        jt = cfg["type"]
        before, after = cfg.get("window", (0, 0))
        if jt in _SEMI_ANTI:
            # the left record, un-tupled, iff a match exists (semi) / does not (anti)
            return J.windowed_stream_semi_join(left, right, before, after, anti=jt == "left_anti")
        flags = {"inner": (False, False), "left": (True, False), "outer": (True, True)}[jt]
        return J.windowed_stream_join(
            left, right, before, after, *flags,
            left_arity=step.left_arity, tuple_mode=cfg.get("tuple_mode", "array"),
        )

    def _join_table_table(self, node, cfg, step, left, right) -> DataFrame:
        jt = cfg["type"]
        if jt in _SEMI_ANTI:
            return J.as_of_semi_join(left, right, anti=jt == "left_anti")
        # inverted flag semantics for tables (experiment.clj:108-121)
        req = {"inner": (True, True), "left": (True, False), "outer": (False, False)}[jt]
        return J.table_table_join(
            left, right, *req, left_arity=step.left_arity, tuple_mode=cfg.get("tuple_mode", "array")
        )

    def _join_stream_table(self, node, cfg, step, left, right) -> DataFrame:
        jt = cfg["type"]
        if jt in _SEMI_ANTI:
            return J.as_of_semi_join(left, right, anti=jt == "left_anti")
        return J.stream_table_join(
            left, right, jt == "inner",
            left_arity=step.left_arity, tuple_mode=cfg.get("tuple_mode", "array"),
        )

    # -- per-entity-type node builders ----------------------------------
    def _ktable_output(self, ent: dict, df: DataFrame) -> DataFrame:
        if "aggregate" not in ent:
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

    # -- per-node output ---------------------------------------------------
    def _node(self, node: str, ent: dict, combined: DataFrame | None) -> DataFrame | None:
        etype = ent["type"]
        if combined is not None and etype == model.KSTREAM and ent.get("xform") is not None:
            # only an xform can change the record shape
            combined = apply_xform(combined, ent["xform"]).select(KEY, VALUE, TIMESTAMP, SEQ)
        elif combined is not None and etype == model.KTABLE:
            combined = self._ktable_output(ent, combined)
        # a topic (experiment.clj:196-202) and a global table pass their
        # input through; latest state is derived at join time
        return self._emit(node, ent, combined)

    def _built(self, node: str, ent: dict, df: DataFrame | None) -> DataFrame | None:
        return self._emit(node, ent, None if df is None else df.select(KEY, VALUE, TIMESTAMP, SEQ))

    def _emit(self, node: str, ent: dict, computed: DataFrame | None) -> DataFrame | None:
        seed = self._seeds.get(node)
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
        return out

    def run(self, inputs: dict[str, Any] | None = None) -> dict[str, DataFrame]:
        inputs = inputs or {}
        self._seeds = {}
        for i, (eid, ent) in enumerate(self.entities.items()):
            seeded = self._seed(eid, ent, inputs, seq_offset=i * _ENTITY_SEQ_STRIDE)
            if seeded is not None:
                self._seeds[eid] = seeded
        return {k: v for k, v in self._walk().items() if v is not None}


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
