"""Streaming compiler — executes a topology dict on Structured Streaming.

The engine's analogue of willa's ``build-topology!`` (core.clj:122-140):
validate, then walk the topology (``walk.TopologyWalk``, shared with the
batch compiler) building one streaming DataFrame per entity, then one
streaming query per leaf topic. Where the reference mutates a Kafka
StreamsBuilder, this compiler is pure. This module holds only the
streaming operators: ingest and watermarks, ``DeferredStream``, the
stateful joins and folds (n-ary table joins fused into one operator),
output-mode propagation and the global-table snapshot.

Record contract (streaming): key, value, timestamp:TimestampType
(event time — Spark watermarks require a real timestamp column; the
batch engine's ms-longs convert at the edges via timestamp_millis /
unix_millis).

Semantics mapping (SURVEY §2.7):
- KTable aggregate → groupBy().agg() in UPDATE mode (Kafka's
  emit-on-every-update); micro-batches coalesce same-key updates, so
  congruity with the batch changelog compares FINAL state per key.
- Suppression → withWatermark + APPEND mode (emit-on-window-close).
- Windows → F.window / F.session_window (the batch operators' epoch
  alignment).
- Stream-stream joins → watermarked equi-join with a time band; left/
  outer joins add the reference's null-padded placeholders and its
  equal-(ts, key) dedup (experiment.clj:23-34) in ``_nil_dedup``.
- KStream⋈GlobalKTable → stream-static broadcast join against a frozen
  ``static_source`` DataFrame, or a zero-arg callable re-read at every
  micro-batch (Kafka's continuously-updated GlobalKTable,
  core.clj:109-118).
- KStream⋈KTable and KTable⋈KTable → one custom stateful operator
  (``keyed_state``) holding each table side's current value
  per key — Kafka Streams' current-state lookup; the batch engine's
  timestamp-as-of oracle agrees when arrival order is timestamp order.

Scale notes: state lives in the Spark state store (RocksDB provider
configurable); every stateful op keys its shuffle by the group/join
key — the same partitioning Kafka Streams would use via repartition
topics. Watermarks bound state size; without one, update-mode
aggregation state grows with key cardinality exactly as a KTable does.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import model
from ..model import KEY, TIMESTAMP, VALUE
from ..operators.windows import (
    WINDOW_START,
    HoppingWindow,
    SessionWindow,
    TumblingWindow,
    assign_time_windows,
)
from ..transforms import apply_xform
from ..validate import validate
from ..walk import TopologyWalk
from .keyed_state import elems_to_tuple, keyed_state


def _ms_duration(ms: int) -> str:
    return f"{int(ms)} milliseconds"


def _resolve_session_tz(spark):
    """spark.sql.session.timeZone, validated as something pandas can
    localize with. Java-only zone ids like 'GMT+8' are legal to Spark
    but unknown to pandas/pytz — and measured end-to-end, the STACK
    itself dies under them before any user code runs (pyarrow's
    make_tz_aware calls pytz.timezone on the session zone while
    deserializing every timestamp batch into a Pandas-stateful
    operator), so the only honest behavior is a clear error at
    COMPILE naming the remedy instead of a 20 KB executor stack at
    the first micro-batch (r14 review, batch 5 follow-up)."""
    tz_name = spark.conf.get("spark.sql.session.timeZone")
    import pandas as pd

    try:
        pd.Timestamp(0, unit="ms", tz="UTC").tz_convert(tz_name)
        return tz_name
    except Exception:
        raise ValueError(
            f"spark.sql.session.timeZone={tz_name!r} is a Java-only "
            "zone id pandas/pytz cannot resolve; Spark's own Arrow "
            "deserialization of timestamp batches into Pandas "
            "stateful operators crashes under it (pyarrow "
            "make_tz_aware -> pytz). Use an IANA zone name (e.g. "
            "'Asia/Shanghai' instead of 'GMT+8')."
        ) from None


def _epoch_ms(ts, tz) -> int:
    """True epoch ms of a group-key timestamp. Spark delivers
    TimestampType group keys to Python as NAIVE wall-clock values in
    the SESSION timezone; a naive ``.timestamp()`` re-interprets that
    wall clock in the SYSTEM timezone — hours off whenever the two
    differ, firing event-time timeouts early or late (r14 review).
    Localize to the session timezone first. A DST-ambiguous wall time
    resolves deterministically (``ambiguous=True`` — the first
    occurrence) and a spring-forward gap shifts forward: both skew a
    settle timeout by at most an hour, strictly safer than crashing
    the query on legitimate data (r14 review batch 5)."""
    import pandas as pd

    t = pd.Timestamp(ts)
    if t.tzinfo is None:
        t = t.tz_localize(tz, ambiguous=True, nonexistent="shift_forward")
    return int(t.value // 1_000_000)


def _session_wallclock(ms: int, tz):
    """The inverse: a TRUE epoch-ms instant (from ``F.unix_millis``
    arithmetic) as the NAIVE session-timezone wall clock Spark expects
    back from a Pandas worker. A bare ``pd.Timestamp(ms, unit='ms')``
    is the UTC wall clock, which Spark re-reads as session-local —
    shifting every emitted event time by the tz offset whenever the
    session timezone is not UTC (r14 review)."""
    import pandas as pd

    return (
        pd.Timestamp(ms, unit="ms", tz="UTC")
        .tz_convert(tz)
        .tz_localize(None)
    )


def _scalar_caster(type_str: str):
    """Pandas widens a nullable numeric column to float64 (4 → 4.0, NaN
    for nulls); values read back out of such a column must be cast to
    the declared Spark type before re-entering Arrow/pickle (numpy
    scalars crash the unpickler, floats pickled into bigint fields
    decode as NULL JVM-side). THE one caster for every stateful
    operator in this module (r14 review: three near-identical copies
    had already drifted on their NaN checks); NaT/NA sentinels null
    out like NaN does."""
    import math

    import pandas as pd

    base = type_str.split("(")[0]
    if base in ("tinyint", "smallint", "int", "bigint", "byte", "short", "long", "integer"):
        num = int
    elif base in ("float", "double"):
        num = float
    else:
        num = None

    def cast(x):
        if x is None:
            return None
        if isinstance(x, float) and math.isnan(x):
            return None
        if x is pd.NaT or x is getattr(pd, "NA", None):
            return None
        if hasattr(x, "item"):
            x = x.item()
        return num(x) if num is not None else x

    return cast


_DURATION_UNITS = {
    "microsecond": 0.001,
    "millisecond": 1,
    "second": 1000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
    # fixed-length like the rest; month/year are variable-length and
    # deliberately absent (a watermark delay must be a definite ms)
    "week": 604_800_000,
}


_DURATION_ABBREV = {
    "us": "microsecond",
    "ms": "millisecond",
    "s": "second",
    "sec": "second",
    "secs": "second",
    "m": "minute",
    "min": "minute",
    "mins": "minute",
    "h": "hour",
    "hr": "hour",
    "hrs": "hour",
    "d": "day",
    "w": "week",
}


def _try_duration_ms(s: str) -> int | None:
    """Parse a Spark duration string, including multi-part forms
    ('90 seconds', '100 milliseconds', '1 minute 30 seconds'), the
    'interval ' prefix, DECIMAL magnitudes ('1.5 seconds'), and the
    short unit forms Spark's interval parser accepts ('5 ms', '2 h')
    — r14 review: the strict form-of-record parser rejected strings
    Spark itself runs. Returns None — distinguishable from every real
    duration — when the string is not understood, so callers can
    separate "unparseable" from "parsed to a conflicting value"."""
    import re

    text = str(s).lower().strip()
    if text.startswith("interval "):
        text = text[len("interval "):].lstrip()
    if text.startswith("'") and text.endswith("'") and len(text) >= 2:
        text = text[1:-1].strip()
    pat = re.compile(r"(\d+(?:\.\d+)?)\s*([a-z]+)(?:\s+|$)")
    pos, total, found = 0, 0.0, False
    while pos < len(text):
        m = pat.match(text, pos)
        if not m:
            return None
        unit = m.group(2)
        unit = _DURATION_ABBREV.get(unit, unit)
        if unit.endswith("s") and unit not in _DURATION_UNITS:
            unit = unit[:-1]
        if unit not in _DURATION_UNITS:
            return None
        total += float(m.group(1)) * _DURATION_UNITS[unit]
        pos, found = m.end(), True
    if not found:
        return None
    # '0.5 ms' must not silently parse to a ZERO delay where the
    # caller asked for a small positive one: round to the nearest
    # ms, and surface a positive-but-sub-ms total as unparseable so
    # the compile-time loud guard fires instead (r15 ADVICE).
    if 0 < total < 1:
        return None
    return int(round(total))


def _duration_ms(s: str, default: int) -> int:
    """Best-effort parse; falls back to ``default`` for exotic forms."""
    got = _try_duration_ms(s)
    return default if got is None else got


class DeferredStream:
    """A streaming DataFrame plus batch transforms applied PER
    MICRO-BATCH inside ``foreachBatch`` — Spark's pattern for joining a
    stream against a slowly-changing dimension (a continuously-updated
    GlobalKTable, core.clj:109-118): the stream side stays incremental
    while the dim snapshot is re-evaluated at every trigger, so dim
    updates landing between micro-batches are visible to later joins.

    Each fn takes ``(batch_df, batch_id)`` — the id lets a step manage
    its own versioned state (the Python-subtractor fold). Stateless ops
    may follow the deferral point (they re-run as plain batch column
    ops on each micro-batch); JVM-stateful downstream ops raise a
    precise error at compile time."""

    def __init__(self, df: DataFrame, fns=None):
        self.df = df
        self.fns = list(fns or [])

    def then(self, fn) -> "DeferredStream":
        return DeferredStream(self.df, self.fns + [fn])

    def apply(self, batch_df: DataFrame, batch_id: int = 0) -> DataFrame:
        for fn in self.fns:
            batch_df = fn(batch_df, batch_id)
        return batch_df


class StreamingTopologyRunner(TopologyWalk):
    """Compile a topology over streaming inputs.

    ``inputs``: {entity_id: streaming DataFrame} with columns
    (key, value, timestamp) — timestamp TimestampType (or ms-long,
    converted on ingest). Use ``run_streaming_topology`` for the
    file-source test harness.
    """

    def __init__(self, spark: SparkSession, topology: dict):
        self.spark = spark
        self.topology = topology
        self.order = validate(topology)
        self.entities = topology["entities"]
        #: entity id -> output mode required downstream of it
        self.output_modes: dict[str, str] = {}
        self.source_watermark = self._source_watermark()
        self._inputs: dict[str, DataFrame] = {}
        #: global table id -> its static snapshot (DataFrame or zero-arg callable)
        self._static: dict[str, Any] = {}

    def _source_watermark(self) -> str | None:
        """Watermark delay to attach AT TOPIC INGEST: the minimum delay
        any entity in the topology declares.  Attaching at the source —
        before any transform — means EVERY arriving record advances the
        watermark, so a selective filter chain can never stall a
        downstream suppressed window (a Kafka Streams property: stream
        time advances on consumption, not post-transform survival).
        Downstream attachment points become no-ops via the event-time
        column tag (`_has_event_time`)."""
        declared = [
            (eid, ent["watermark"])
            for eid, ent in self.entities.items()
            if ent.get("watermark")
        ] + [
            (f"join {jid}", cfg["watermark"])
            for jid, cfg in self.topology.get("joins", {}).items()
            if cfg.get("watermark")
        ]
        delays = []
        for where, wm in declared:
            got = _try_duration_ms(wm)
            if got is None:
                # fail at COMPILE, loudly: the old 1<<62 fallback made
                # an unparseable string (e.g. a typo, or the
                # variable-length 'month'/'year') either overflow
                # Spark's interval parse at query start or silently
                # freeze the watermark so suppressed windows and
                # nil-dedup timeouts never fire (r14 review)
                raise ValueError(
                    f"{where}: unparseable watermark duration {wm!r}; "
                    "use '<n> <unit>' parts with unit in "
                    f"{sorted(_DURATION_UNITS)} (variable-length "
                    "month/year are not supported — a watermark delay "
                    "must be a definite number of milliseconds)"
                )
            delays.append(got)
        return _ms_duration(min(delays)) if delays else None

    def _ingest(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import types as T

        if not isinstance(df.schema[TIMESTAMP].dataType, (T.TimestampType, T.TimestampNTZType)):
            df = df.withColumn(TIMESTAMP, F.timestamp_millis(F.col(TIMESTAMP).cast("bigint")))
        df = df.select(KEY, VALUE, TIMESTAMP)
        if self.source_watermark:
            df = df.withWatermark(TIMESTAMP, self.source_watermark)
        return df

    @staticmethod
    def _has_event_time(df: DataFrame) -> bool:
        """True when the timestamp column still carries Spark's
        event-time watermark tag (EventTimeWatermark sets column
        metadata ``spark.watermarkDelayMs``; projections that pass the
        column through preserve it).  A transform that rebuilds the
        timestamp column drops the tag — then we must re-attach."""
        try:
            return "spark.watermarkDelayMs" in (df.schema[TIMESTAMP].metadata or {})
        except Exception:
            return False

    def _watermarked(self, df: DataFrame, ent: dict, default: str | None = None) -> DataFrame:
        wm = ent.get("watermark", default)
        if not wm or self._has_event_time(df):
            return df
        return df.withWatermark(TIMESTAMP, wm)

    def _shift_event_time(
        self, df: DataFrame, wm: str | None, explicit: bool = False
    ) -> DataFrame:
        """+1ms epoch-edge shift, preserving EXACTLY ONE
        EventTimeWatermark node per branch.  Spark's stateful late-row
        filters clamp their state watermark at 0 and drop rows with
        event time <= 0, so a record exactly at the epoch is spuriously
        "late" (observed: ts=0 dropped, ts=1 kept); shifting both the
        data and all comparisons by +1ms fixes the edge without
        changing any band/gap math.  Rebuilding the column would drop
        the ingest watermark tag — but Spark 4 throws 'Redefining
        watermark is disallowed' at runtime if we re-attach
        ``withWatermark`` below the ingest-attached one.  Instead,
        carry the tag through the rebuild via alias metadata (the same
        mechanism by which Spark's own projections propagate the
        event-time attribute), so the single ingest node keeps
        governing the branch.  Only when NO watermark is attached yet
        do we attach ``wm`` here.
        """
        meta = dict(df.schema[TIMESTAMP].metadata or {})
        shifted = F.col(TIMESTAMP) + F.expr("INTERVAL 1 MILLISECONDS")
        others = [F.col(c) for c in df.columns if c != TIMESTAMP]
        if "spark.watermarkDelayMs" in meta:
            # the ingest watermark governs the whole branch; an
            # EXPLICITLY configured different value here cannot be
            # honored (re-attaching is 'Redefining watermark is
            # disallowed') — fail loudly instead of silently using the
            # ingest delay for state retention / outer emission
            if explicit and wm is not None:
                ingest_ms = int(meta["spark.watermarkDelayMs"])
                want_ms = _try_duration_ms(wm)
                if want_ms is None:
                    # parse failure is NOT a value conflict — an exotic
                    # form Spark itself would accept must not be
                    # reported as "conflicts with ingest"
                    raise ValueError(
                        f"unparseable watermark duration {wm!r}; use "
                        "'<n> <unit>' parts (e.g. '30 seconds', "
                        "'1 minute 30 seconds')"
                    )
                if want_ms != ingest_ms:
                    raise ValueError(
                        f"watermark {wm!r} conflicts with the "
                        f"{ingest_ms} ms watermark already attached at "
                        "source ingest; a branch carries exactly one "
                        "watermark — set it on the topic entity (or "
                        "make the two values equal)"
                    )
            return df.select(*others, shifted.alias(TIMESTAMP, metadata=meta))
        out = df.select(*others, shifted.alias(TIMESTAMP))
        return out.withWatermark(TIMESTAMP, wm) if wm else out

    @staticmethod
    def _tag_event_time(col, src_df: DataFrame, name: str = TIMESTAMP):
        """Alias ``col`` as the event-time column, carrying ``src_df``'s
        watermark tag through an expression that would otherwise drop
        it (greatest(), arithmetic, …).  Downstream stateful operators
        then recognise the column without a second — illegal —
        ``withWatermark`` node above the first stateful operator."""
        meta = dict(src_df.schema[TIMESTAMP].metadata or {})
        if "spark.watermarkDelayMs" in meta:
            return col.alias(name, metadata=meta)
        return col.alias(name)

    # -- merge and join legs ---------------------------------------------
    def _merge(self, node: str, frames: list) -> DataFrame:
        if len(frames) > 1 and any(isinstance(f, DeferredStream) for f in frames):
            raise NotImplementedError(
                f"merge into {node!r}: merging a stream downstream of a "
                "refreshed global table with other streams is unsupported"
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def _legs(self, node: str, ordered: list[str], outputs: dict) -> list | None:
        # a global table joins via its static snapshot, not a stream
        legs = [
            outputs[p] if outputs.get(p) is not None else self._static.get(p)
            for p in ordered
        ]
        dead = [p for p, leg in zip(ordered, legs) if leg is None]
        if len(dead) == len(legs):
            return None
        if dead:
            # the batch engine joins the reference's nil leg as a typed
            # empty frame; a streaming source cannot be conjured empty,
            # and dropping the leg would untuple the values and swap
            # left/right roles
            raise NotImplementedError(
                f"join into {node!r}: legs {dead} produced no stream "
                "(no source/input compiled for them); give every join "
                "leg a source, or run the batch engine, where an "
                "empty leg joins with reference nil-leg semantics"
            )
        return legs

    def _fused_join(self, node: str, cfg: dict, legs: list, steps: list) -> DataFrame | None:
        """Every stream+tables / all-tables chain of two or more legs runs
        as ONE stateful operator (chaining stateful Pandas ops is rejected
        by Spark, and the fusion is cheaper anyway)."""
        if all(s.right_type == model.KTABLE for s in steps) and not any(
            isinstance(leg, DeferredStream) for leg in legs
        ):
            self.output_modes[node] = "update"
            return self._table_join(
                legs,
                cfg["type"],
                cfg.get("tuple_mode", "array"),
                first_is_stream=(steps[0].left_type == model.KSTREAM),
            )
        return None

    # -- join operators, one per walk.JOIN_SHAPES operator ----------------
    def _join_global_table(self, node, cfg, step, left, right):
        """Broadcast lookup against the dim snapshot ``right``: a frozen
        DataFrame compiles into the plan; a zero-arg callable is re-read
        at every micro-batch (deferred foreachBatch join)."""
        from ..operators.joins import _tuple_value

        jt = cfg["type"]
        mode = cfg.get("tuple_mode", "array")
        kv_mapper = cfg.get("kv_mapper")

        def join_with(df: DataFrame, dim_src: DataFrame) -> DataFrame:
            jk = kv_mapper(F.col(KEY), F.col(VALUE)) if kv_mapper else F.col(KEY)
            dim = dim_src.select(F.col(KEY).alias("__tkey"), F.col(VALUE).alias("__tv"))
            joined = df.withColumn("__jk", jk).join(
                F.broadcast(dim), F.col("__jk") == F.col("__tkey"), jt
            )
            if jt in ("left_semi", "left_anti"):
                # the record passes through un-tupled iff the lookup
                # hits / misses (the batch global_table_join contract);
                # the dim columns don't survive a semi/anti join
                return joined.select(F.col(KEY), F.col(VALUE), F.col(TIMESTAMP))
            return joined.select(
                F.col(KEY),
                _tuple_value(F.col(VALUE), F.col("__tv"), step.left_arity, 1, mode).alias(VALUE),
                F.col(TIMESTAMP),
            )

        if callable(right):
            base = left if isinstance(left, DeferredStream) else DeferredStream(left)
            return base.then(lambda bdf, _bid: join_with(bdf, right()))
        if isinstance(left, DeferredStream):
            return left.then(lambda bdf, _bid: join_with(bdf, right))
        return join_with(left, right)

    @staticmethod
    def _reject_deferred(step, left) -> None:
        if isinstance(left, DeferredStream):
            raise NotImplementedError(
                f"join {step.left_type}⋈{step.right_type} downstream of a refreshed "
                "global table: only stateless ops and further global-table "
                "joins may follow a refreshing (callable) static_source"
            )

    def _join_stream_stream(self, node, cfg, step, left, right):
        from ..operators.joins import _tuple_value

        self._reject_deferred(step, left)
        jt = cfg["type"]
        mode = cfg.get("tuple_mode", "array")
        left_arity = step.left_arity
        before, after = cfg.get("window", (0, 0))
        exact = jt != "inner" and cfg.get("exact_dedup", True)
        # exact reference parity builds inner join + synthetic
        # placeholders (the batch construction); Spark-native outer
        # joins only when parity is opted out.
        # KNOWN inner-join divergence for NULL-VALUED records: the
        # reference's in-memory oracle applies its (timestamp, key)
        # nil-cull to inner joins too (experiment.clj:30-34,
        # unconditional), and the batch engine follows it; real
        # Kafka Streams drops null-valued records from joins
        # entirely, and this streaming path emits the matched
        # tuples as Spark joins them. Congruity holds for non-null
        # values (the tested surface).
        hows = {"inner": "inner", "left": "leftOuter", "outer": "fullOuter"}
        if jt not in hows:
            # implemented in the batch engine (walk.JOIN_SHAPES) but
            # not compiled for streaming — name the restriction
            raise NotImplementedError(
                f"stream-stream join type {jt!r} is not implemented "
                f"in streaming (supported: {sorted(hows)}); run the "
                "batch engine, or express semi/anti as an inner "
                "join + filter"
            )
        how = "inner" if exact else hows[jt]
        wm_cfg = cfg.get("watermark")
        wm = wm_cfg or _ms_duration(before + after + 1000)
        # +1ms epoch-edge shift on both sides equally (band matches
        # unchanged), unshift on output; _shift_event_time keeps
        # the branch to a single EventTimeWatermark node and
        # rejects an explicit join watermark that conflicts with
        # an ingest-attached one (it could not be honored).
        shift = F.expr("INTERVAL 1 MILLISECONDS")
        lw = self._shift_event_time(left, wm, explicit=wm_cfg is not None)
        rw = self._shift_event_time(right, wm, explicit=wm_cfg is not None)
        l = lw.select(
            F.col(KEY).alias("__lk"), F.col(VALUE).alias("__lv"), F.col(TIMESTAMP).alias("__lts")
        )
        r = rw.select(
            F.col(KEY).alias("__rk"), F.col(VALUE).alias("__rv"), F.col(TIMESTAMP).alias("__rts")
        )
        cond = (
            (F.col("__lk") == F.col("__rk"))
            & (F.col("__rts") >= F.col("__lts") - F.expr(f"INTERVAL {int(before)} MILLISECONDS"))
            & (F.col("__rts") <= F.col("__lts") + F.expr(f"INTERVAL {int(after)} MILLISECONDS"))
        )
        joined = l.join(r, cond, how)
        out = joined.select(
            F.coalesce(F.col("__lk"), F.col("__rk")).alias(KEY),
            _tuple_value(F.col("__lv"), F.col("__rv"), left_arity, 1, mode).alias(VALUE),
            self._tag_event_time(
                F.greatest(
                    F.coalesce(F.col("__lts"), F.col("__rts")),
                    F.coalesce(F.col("__rts"), F.col("__lts")),
                ),
                lw,
            ),
        )
        if exact:
            lvt = left.schema[VALUE].dataType
            rvt = right.schema[VALUE].dataType
            # placeholder branches FIRST: their timestamp column is
            # an identity projection of a watermarked source column,
            # and the union adopts the first branch's event-time
            # metadata — which is what entitles the downstream
            # stateful dedup to use event-time timeouts without a
            # second (illegal, "redefining") withWatermark node
            parts = [
                l.select(
                    F.col("__lk").alias(KEY),
                    _tuple_value(
                        F.col("__lv"), F.lit(None).cast(rvt), left_arity, 1, mode
                    ).alias(VALUE),
                    F.col("__lts").alias(TIMESTAMP),
                )
            ]
            if jt == "outer":
                parts.append(
                    r.select(
                        F.col("__rk").alias(KEY),
                        _tuple_value(
                            F.lit(None).cast(lvt), F.col("__rv"), left_arity, 1, mode
                        ).alias(VALUE),
                        F.col("__rts").alias(TIMESTAMP),
                    )
                )
            unioned = parts[0]
            for p in parts[1:]:
                unioned = unioned.unionByName(p)
            unioned = unioned.unionByName(out)
            out = self._nil_dedup(
                unioned, wm, int(before), int(after), mode, left_arity + 1
            )
        # undo the epoch-edge shift (after the dedup operator, whose
        # event-time timeouts need the shifted watermarked column);
        # keep the event-time tag so a downstream stateful operator
        # (windowed agg, session fold) never re-attaches a watermark
        return out.select(
            *[F.col(c) for c in out.columns if c != TIMESTAMP],
            self._tag_event_time(F.col(TIMESTAMP) - shift, out),
        )

    def _join_stream_table(self, node, cfg, step, left, right):
        # _fused_join takes every pure chain; what reaches here follows a
        # refreshed global table or mixes in a stream-stream join
        self._reject_deferred(step, left)
        raise NotImplementedError(
            "n-ary table joins mixing other join kinds are not "
            "supported in streaming (pure stream+tables / all-tables "
            "chains fuse into one stateful operator upstream)"
        )

    _join_table_table = _join_stream_table

    def _nil_dedup(
        self, df: DataFrame, wm: str, before_ms: int, after_ms: int, mode: str, arity: int
    ) -> DataFrame:
        """Exact reference parity for outer windowed joins (J2/J3,
        experiment.clj:23-34): the oracle emits a null-padded
        placeholder for EVERY left (and, for outer, right) record —
        even ones that joined at a different result timestamp (golden
        F15: left@100 joins right@150 → BOTH ("k",[1,nil])@100 and
        ("k",[1,2])@150 emit) — then groups results by (timestamp, key)
        and, where a group has >1 record, drops the NULL-containing
        ones. A placeholder survives only as its group's sole record.

        Spark's native outer join can't express this (it emits one
        placeholder per never-matched input, at watermark expiry), so
        the compiler builds the oracle's construction directly: INNER
        join ∪ synthetic placeholder streams → this operator. A plain
        aggregation can't implement the group rule either (rows land
        after the watermark passes their event time — always "late"
        for an agg); ``applyInPandasWithState`` doesn't late-drop its
        input, so: non-null rows pass through immediately; placeholders
        buffer in state keyed by (key, ts); an event-time timeout fires
        once the group can no longer grow (no contributing input can
        still be on time for the join) and emits the single buffered
        placeholder iff the group saw exactly one record. Arrival order
        within a group is free — placeholders arrive eagerly, joins
        late — because nothing is decided before the timeout.

        Flush caveat (same as all watermark-driven emission in this
        engine): the timeout fires on a LATER watermark advance; finite
        test inputs need trailing sentinel records (the congruity
        harness's extra_files pattern). Disable per-join with
        ``exact_dedup: False`` for Spark-native outer-join emission
        (e.g. when the join output feeds further stateful operators).

        Scale: state is one (count, count, value) triple per distinct
        (key, ts) holding ≥1 placeholder, evicted at timeout; the
        shuffle key (key, ts) is finer than the join key, so hot join
        keys actually spread here.
        """
        vt = df.schema[VALUE].dataType
        kt = df.schema[KEY].dataType.simpleString()
        if mode == "struct":
            field_names = [f.name for f in vt.fields]
            elem_types = [f.dataType.simpleString() for f in vt.fields]
        else:
            field_names = None
            elem_types = [vt.elementType.simpleString()] * arity
        elem_cols = [f"__e{i}" for i in range(arity)]
        elems_ddl = ", ".join(f"{c} {t}" for c, t in zip(elem_cols, elem_types))
        # natural settle point: a joined row for group ts T needs both
        # inputs on time, and inputs older than wm - join_watermark are
        # late — so after T + band + join_watermark (+slack) the group
        # cannot grow
        settle_ms = before_ms + after_ms + _duration_ms(wm, default=before_ms + after_ms + 1000) + 1000
        session_tz = _resolve_session_tz(self.spark)
        casters = [_scalar_caster(t) for t in elem_types]

        def to_elems(v) -> list:
            if field_names is not None:
                d = v if isinstance(v, dict) else dict(zip(field_names, v))
                return [c(d.get(f)) for c, f in zip(casters, field_names)]
            return [c(x) for c, x in zip(casters, list(v))]

        def dedup(key, state, rows, timed_out, _wm):
            n_seen, n_null, *first_null = state
            if timed_out:
                emit = n_seen == 1 and n_null == 1
                return None, [(key[0], *first_null, key[1])] if emit else [], None
            passthrough = []
            for v in rows[VALUE].tolist():
                elems = to_elems(v)
                n_seen += 1
                if any(x is None for x in elems):
                    if n_null == 0:
                        first_null = elems
                    n_null += 1
                else:
                    passthrough.append((key[0], *elems, key[1]))
            settle = _epoch_ms(key[1], session_tz) + settle_ms
            return (n_seen, n_null, *first_null), passthrough, settle

        # NO new withWatermark here: a second watermark node downstream
        # of the sources' is "redefining" under multi-stateful-operator
        # propagation, and the event-time-timeout requirement is
        # satisfied by the join inputs' watermarks (the union's first
        # branch carries the event-time column metadata through; the
        # timeout clock is the query's global watermark either way)
        folded = keyed_state(
            df,
            [KEY, TIMESTAMP],
            dedup,
            f"{KEY} {kt}, {elems_ddl}, {TIMESTAMP} timestamp",
            f"n_seen int, n_null int, {elems_ddl}",
            order_by=TIMESTAMP,
            default=(0, 0, *[None] * arity),
            output_mode="append",
            timeout="event",
        )
        return elems_to_tuple(folded, elem_cols, mode)

    def _table_join(
        self, dfs: list[DataFrame], jt: str, mode: str, first_is_stream: bool
    ) -> DataFrame:
        """KStream⋈KTable (J6), KTable⋈KTable (J5) and their n-ary chains
        (J8, streams.clj:115-123 — the reference folds ANY arity
        pairwise) as ONE stateful operator: per-key state holds every
        table side's CURRENT value; each record, in (ts, leg) order with
        tables before the stream at equal ts, updates its side and emits
        the full widened tuple. The chained fold's presence rules compose
        to: inner → every table present; left → the first leg present
        (a stream always is); outer (table-table only) → always. A
        stream-first chain emits only on stream records (table updates
        just refresh state), exactly what chained stream⋈table joins
        yield; an all-tables chain emits on every update.

        Semantics note: this is Kafka Streams' actual runtime behavior —
        a lookup against the table's current state at processing time.
        The batch engine implements the reference oracle's timestamp-
        as-of idealization (experiment.clj:37-81); the two agree when
        arrival order is timestamp order (the congruity tests feed
        exactly that), and diverge on late data exactly as Kafka does.

        Scale: ONE shuffle by join key and one value per table per key
        in the state store, versus N-1 shuffles + N-1 state stores for
        a chained plan — the layout Kafka Streams uses via repartition
        topics + RocksDB."""
        supported = ("inner", "left") if first_is_stream else ("inner", "left", "outer")
        if jt not in supported:
            # left_semi/left_anti pass validate for these shapes (the
            # batch engine runs them) but the presence rules don't
            # compose for them
            kind = "stream-table" if first_is_stream else "table-table"
            raise NotImplementedError(
                f"{kind} join type {jt!r} is not implemented in "
                f"streaming (supported: {sorted(supported)}); run the "
                "batch engine for the full join-type surface"
            )
        n = len(dfs)
        kt = dfs[0].schema[KEY].dataType.simpleString()
        vts = [df.schema[VALUE].dataType.simpleString() for df in dfs]
        if mode == "array" and len(set(vts)) > 1:
            raise ValueError(
                "array tuple_mode needs matching value types; use "
                "tuple_mode='struct' in the join config"
            )
        elem_cols = [f"e{i}" for i in range(n)]
        table_idx = list(range(1, n)) if first_is_stream else list(range(n))
        # the legs that must be present to emit (stream-table:
        # streams.clj:100-102; table-table: experiment.clj:108-121)
        required = {"inner": table_idx, "left": [] if first_is_stream else [0]}.get(jt, [])
        casters = [_scalar_caster(t) for t in vts]

        def join_step(key, state, rows, _timed_out, _wm):
            # position 0 of vals/has stays unused for a stream-first chain
            vals, has = [None] * n, [False] * n
            for j, i in enumerate(table_idx):
                vals[i], has[i] = state[2 * j], bool(state[2 * j + 1])
            out = []
            vcols = [rows[f"v{i}"].tolist() for i in range(n)]
            for side, ts, *vs in zip(rows["side"].tolist(), rows[TIMESTAMP].tolist(), *vcols):
                side %= n
                val = casters[side](vs[side])
                if first_is_stream and side == 0:
                    elems = (val, *vals[1:])
                else:
                    vals[side], has[side] = val, True
                    if first_is_stream:
                        continue
                    elems = tuple(vals)
                if all(has[i] for i in required):
                    out.append((key[0], *elems, ts))
            return [x for i in table_idx for x in (vals[i], has[i])], out, None

        unioned = None
        for i, df in enumerate(dfs):
            # a stream leg's side is n, so it sorts after every table at
            # equal ts; side % n is its position in the tuple
            leg = df.select(
                KEY,
                *[
                    (F.col(VALUE) if j == i else F.lit(None).cast(vts[j])).alias(f"v{j}")
                    for j in range(n)
                ],
                TIMESTAMP,
                F.lit(n if first_is_stream and i == 0 else i).alias("side"),
            )
            unioned = leg if unioned is None else unioned.unionByName(leg)
        folded = keyed_state(
            unioned,
            [KEY],
            join_step,
            f"{KEY} {kt}, "
            + ", ".join(f"{c} {t}" for c, t in zip(elem_cols, vts))
            + f", {TIMESTAMP} timestamp",
            # h<i> tells "no update yet" from a NULL table value
            ", ".join(f"v{i} {vts[i]}, h{i} boolean" for i in table_idx),
            order_by=[TIMESTAMP, "side"],
            default=(None, False) * len(table_idx),
        )
        return elems_to_tuple(folded, elem_cols, mode)

    # -- ktable ----------------------------------------------------------
    def _ktable(self, ent: dict, df: DataFrame, node: str) -> DataFrame:
        if "aggregate" not in ent:
            # changelog passthrough (F5): a topic→ktable→topic chain is
            # the stream itself; latest-state lives in downstream state
            return df
        agg = ent["aggregate"]
        group_by = ent.get("group_by")
        gkey = group_by(F.col(KEY), F.col(VALUE)) if group_by else F.col(KEY)
        df = df.withColumn("__gkey", gkey)
        win = ent.get("window")
        if ent.get("retract"):
            out = self._retracting_agg(agg, df, ent, node)
            # fold tier defers stage 2 to foreachBatch — the in-plan part
            # (stage-1 re-key op) is append-mode
            self.output_modes[node] = (
                "append" if isinstance(out, DeferredStream) else "update"
            )
            return out
        if agg.kind == "fold":
            if isinstance(win, SessionWindow):
                out = self._stateful_session_fold(agg, df, ent, node, win)
                self.output_modes[node] = (
                    "append" if ent.get("suppress") else "update"
                )
                return out
            if win is not None and not isinstance(win, (TumblingWindow, HoppingWindow)):
                raise ValueError(f"unknown window spec: {win!r}")
            suppress = bool(ent.get("suppress"))
            if suppress and win is None:
                # an unwindowed fold has no window close to suppress
                # until; the column tier handles unwindowed suppression
                # via complete mode, which applyInPandasWithState
                # cannot express (r14 review: this case previously
                # compiled to update mode SILENTLY, emitting the full
                # changelog a suppressed topology asked to withhold)
                raise ValueError(
                    f"entity {node!r}: 'suppress' on an UNWINDOWED "
                    "Python fold is not expressible in streaming "
                    "(no window ever closes) — window the fold "
                    "(tumbling/hopping/session), or use a built-in "
                    "column aggregate (complete-mode emission)"
                )
            if suppress and not ent.get("watermark") and not self.source_watermark:
                raise ValueError(
                    f"entity {node!r}: suppression (append mode) "
                    "requires a 'watermark'"
                )
            out = self._stateful_fold(
                agg,
                df,
                node,
                win=win,
                emit_window=bool(ent.get("emit_window")),
                suppress=suppress,
                ent=ent,
            )
            self.output_modes[node] = "append" if suppress else "update"
            return out
        suppress = bool(ent.get("suppress"))
        if suppress and not ent.get("watermark"):
            raise ValueError(
                f"entity {node!r}: suppression (append mode) requires a 'watermark'"
            )
        df = self._watermarked(df, ent)
        if win is None:
            grouped = df.groupBy(F.col("__gkey"))
            out = grouped.agg(agg.column_fn(F.col(VALUE)).alias(VALUE)).select(
                F.col("__gkey").alias(KEY),
                F.col(VALUE),
                F.lit(None).cast("timestamp").alias(TIMESTAMP),
            )
            self.output_modes[node] = "complete" if suppress else "update"
            return out
        if isinstance(win, (TumblingWindow, HoppingWindow)):
            wcol = F.window(
                F.col(TIMESTAMP), _ms_duration(win.size_ms), _ms_duration(win.advance_ms)
            )
        elif isinstance(win, SessionWindow):
            wcol = F.session_window(F.col(TIMESTAMP), _ms_duration(win.gap_ms))
        else:
            raise ValueError(f"unknown window spec: {win!r}")
        grouped = df.groupBy(F.col("__gkey"), wcol.alias("__w"))
        out = self._emit_windowed(
            grouped.agg(agg.column_fn(F.col(VALUE)).alias("__acc")), ent
        )
        self.output_modes[node] = "append" if suppress else "update"
        return out

    @staticmethod
    def _emit_windowed(aggregated: DataFrame, ent: dict) -> DataFrame:
        """THE windowed-emission tail shared by the plain and the
        retracting column aggregates (r14 review: two verbatim copies
        could silently desynchronize the epoch-clamp / struct shape):
        drop pre-epoch windows (F.window emits starts < 0 for early
        timestamps; batch clamps at >= 0 — Kafka TimeWindows.
        windowsFor), optionally carry the window start in the value,
        unwrap to the bare group key (P8, core.clj:20-24), and stamp
        the window END as the event time."""
        out = aggregated.filter(
            F.col("__w.start") >= F.timestamp_millis(F.lit(0))
        )
        if ent.get("emit_window"):
            value = F.struct(
                F.unix_millis(F.col("__w.start")).alias("win"),
                F.col("__acc").alias("v"),
            )
        else:
            value = F.col("__acc")
        return out.select(
            F.col("__gkey").alias(KEY),
            value.alias(VALUE),
            F.col("__w.end").alias(TIMESTAMP),
        )

    def _retracting_agg(self, agg, df: DataFrame, ent: dict, node: str) -> DataFrame:
        """A5 (subtractor) in streaming: a re-grouped table upsert must
        retract the old value's contribution from its OLD group
        (streams.clj:44-50). Spark has no native retraction, so this is
        a two-stage plan:

        1. a custom stateful re-key operator (``keyed_state``
           keyed by the ORIGINAL record key, append mode) holding each
           key's previous (contribution, group); every update emits
           (+1, new contribution → new group) and, if a previous value
           exists, (−1, old contribution → old group);
        2. a plain JVM-side update-mode aggregation by group key:
           ``sum(sign × contribution)`` — partial-aggregated,
           whole-stage-codegen, exactly the invertible-aggregate
           restriction the batch column tier imposes.

        Append mode on stage 1 is what makes the downstream stateful
        aggregation legal (update-mode flatMapGroupsWithState cannot be
        followed by stateful ops). A Python-fold subtractor runs stage 2
        per micro-batch instead (``_deferred_fold_retraction``); the
        congruity suite compares final state per group.

        Scale: stage-1 state is one (contribution, group) pair per key;
        the two shuffles (record key, then group key) mirror Kafka's
        repartition topic before a re-grouped aggregate.
        """
        import pandas as pd

        is_fold = agg.kind == "fold"
        if is_fold and agg.subtractor is None:
            raise ValueError(
                "retraction with a Python fold needs an explicit 'subtractor' "
                "(Aggregate.fold(..., subtractor=...), streams.clj:44-50)"
            )
        if not is_fold and agg.contribution_fn is None:
            # stage 2 for column aggs is sum(sign × contribution) — only
            # invertible column aggregates qualify
            raise NotImplementedError(
                "streaming retraction needs an invertible column aggregate "
                "(sum/count) or a Python fold with an explicit subtractor"
            )
        win = ent.get("window")
        if win is not None and not isinstance(win, (TumblingWindow, HoppingWindow)):
            # same structural limit as batch: retracting a record changes
            # the session gap split itself, not just the fold value
            raise NotImplementedError(
                "session windows + retraction: removing a record changes the "
                "session gap split; re-derive the table without retract"
            )
        if not ent.get("watermark"):
            raise ValueError(
                f"entity {node!r}: retraction (stateful re-key op) requires a 'watermark'"
            )
        df = self._watermarked(df, ent)
        # fold tier: the raw value is the "contribution" — the Python
        # adder/subtractor receive it as-is
        contrib = F.col(VALUE) if is_fold else agg.contribution_fn(F.col(VALUE))
        src = df.select(
            F.col(KEY),
            F.col("__gkey"),
            contrib.alias("__contrib"),
            F.col(TIMESTAMP),
        )
        ct = src.schema["__contrib"].dataType.simpleString()
        gt = src.schema["__gkey"].dataType.simpleString()
        # pandas widens a nullable numeric __contrib/__gkey column to
        # float64; a float pickled into the bigint state field `c`
        # decodes as NULL JVM-side, silently zeroing the NEXT update's
        # retraction — cast through the shared caster before values
        # enter state or the typed output columns
        cast_c = _scalar_caster(ct)
        cast_g = _scalar_caster(gt)

        def rekey(key, prev, rows, _timed_out, _wm):
            out = []
            # positional lists: pandas itertuples mangles
            # underscore-prefixed names like __gkey/__contrib
            for g, c, ts in zip(
                rows["__gkey"].tolist(), rows["__contrib"].tolist(), rows[TIMESTAMP].tolist()
            ):
                g, c = cast_g(g), cast_c(c)
                # __win_ts targets the window: the add lands in the new
                # record's windows, the retraction in the OLD record's
                # (batch _with_retractions mirrors this; both carry the
                # new record's ts)
                out.append((g, c, 1, ts, ts))
                if prev is not None:
                    pc, pg, pt = prev
                    out.append((pg, pc, -1, ts, pd.Timestamp(pt, unit="ms")))
                prev = (c, g, int(ts.value // 1_000_000))
            return prev, out, None

        signed = keyed_state(
            src,
            [KEY],
            rekey,
            f"__gkey {gt}, __contrib {ct}, __sign int, {TIMESTAMP} timestamp, "
            "__win_ts timestamp",
            f"c {ct}, g {gt}, t long",
            order_by=TIMESTAMP,
            output_mode="append",
        )
        if is_fold:
            return self._deferred_fold_retraction(agg, signed, ent, node, win)
        if win is None:
            return (
                signed.groupBy("__gkey")
                .agg(F.sum(F.col("__sign") * F.col("__contrib")).alias(VALUE))
                .select(
                    F.col("__gkey").alias(KEY),
                    F.col(VALUE),
                    F.lit(None).cast("timestamp").alias(TIMESTAMP),
                )
            )
        # windowed retraction (A5 × A2): plain JVM update-mode windowed
        # aggregation of the signed contributions, windowed on __win_ts
        wcol = F.window(
            F.col("__win_ts"), _ms_duration(win.size_ms), _ms_duration(win.advance_ms)
        )
        return self._emit_windowed(
            signed.groupBy(F.col("__gkey"), wcol.alias("__w")).agg(
                F.sum(F.col("__sign") * F.col("__contrib")).alias("__acc")
            ),
            ent,
        )

    def _deferred_fold_retraction(
        self, agg, signed: DataFrame, ent: dict, node: str, win
    ) -> DeferredStream:
        """A5 with an arbitrary Python subtractor fold in STREAMING
        (streams.clj:44-50 — the reference supports any subtractor fn).

        Spark rejects chaining two ``applyInPandasWithState`` operators,
        and ``transformWithState`` (the state-v2 API built for exactly
        this chaining) needs the protobuf-based Python state server.
        Stage 2 therefore runs as a deferred per-micro-batch step
        (foreachBatch): the signed events from the stateful re-key op
        fold into per-group accumulators via Arrow ``applyInPandas`` per
        group — distributed, never a driver loop — against a versioned
        parquet state table. Snapshot ``snap=<batch_id>`` is written per
        trigger; each batch folds on top of the newest snapshot with
        id < batch_id, so replaying a failed batch re-reads the same
        base — idempotent state, at-least-once emission. The snapshots
        live in the entity's ``state_dir``, or in a fresh temporary
        directory per build without one: a query restarted from its
        checkpoint restores the stage-1 state, so its stage 2 must find
        its snapshots again, and a batch with no snapshot before it
        fails instead of folding from ``initial``.

        Scale: state I/O is a full-snapshot rewrite per trigger — fine
        while group cardinality is dim-sized (the fold tier is already
        the opaque-Python slow path); for huge state use the column
        tier (sum/count — JVM state store) or point ``state_dir`` at a
        partitioned store."""
        import tempfile

        initial, adder, subtractor = agg.initial, agg.adder, agg.subtractor
        acc_type = agg.acc_type if isinstance(agg.acc_type, str) else agg.acc_type.simpleString()
        gt = signed.schema["__gkey"].dataType.simpleString()
        state_dir = ent.get("state_dir") or tempfile.mkdtemp(prefix=f"willa_state_{node}_")
        emit_window = bool(ent.get("emit_window"))
        windowed = win is not None
        size_ms = getattr(win, "size_ms", None)
        advance_ms = getattr(win, "advance_ms", None)

        def fold_batch(bdf: DataFrame, batch_id: int) -> DataFrame:
            import glob
            import os

            import pandas as pd

            spark = bdf.sparkSession
            group_cols = ["__gkey"] + ([WINDOW_START] if windowed else [])
            ev = bdf.select(
                F.col("__gkey"), F.col("__contrib"), F.col("__sign"),
                F.unix_millis(F.col(TIMESTAMP)).alias("__ts"),
                F.unix_millis(F.col("__win_ts")).alias("__wts"),
            )
            if windowed:
                ev = assign_time_windows(ev, "__wts", size_ms, advance_ms)
            # previous acc rides along as a SEPARATE column (full-outer
            # join by group), never union-ed into the event rows — mixing
            # seed rows in would null-promote the pandas __contrib column
            # to float64 and corrupt the values the subtractor sees
            ev = ev.select(*group_cols, "__contrib", "__sign", "__ts")
            snaps = [
                int(os.path.basename(p).split("=", 1)[1])
                for p in glob.glob(os.path.join(state_dir, "snap=*"))
            ]
            prev = [s for s in snaps if s < batch_id]
            if batch_id > 0 and not prev:
                raise ValueError(
                    f"entity {node!r}: micro-batch {batch_id} finds no fold "
                    f"state snapshot before it in {state_dir!r}; a query "
                    "restarted from its checkpoint needs the 'state_dir' it "
                    "ran with (without 'state_dir' each build folds into a "
                    "fresh temporary directory)"
                )
            if prev:
                state = spark.read.parquet(
                    os.path.join(state_dir, f"snap={max(prev)}")
                ).select(*group_cols, F.col("__acc").alias("__prev_acc"))
                combined = ev.join(state, group_cols, "full_outer")
            else:
                combined = ev.withColumn("__prev_acc", F.lit(None).cast(acc_type))
            out_ddl = f"__gkey {gt}"
            if windowed:
                out_ddl += f", {WINDOW_START} long"
            out_ddl += f", __acc {acc_type}, __changed boolean"

            def fold_group(pdf: pd.DataFrame) -> pd.DataFrame:
                # state-only groups carry one row with null __sign; event
                # rows always have non-null __contrib/__sign (so their
                # dtypes stay exact — int stays int)
                evs = pdf[pdf["__sign"].notna()]
                changed = len(evs) > 0
                prev_accs = pdf["__prev_acc"].dropna()
                acc = prev_accs.iloc[0] if len(prev_accs) else initial
                if changed:
                    # same total order as the batch fold: (ts, sign asc —
                    # retraction before the paired addition — value tie)
                    evs = evs.assign(__tie=evs["__contrib"].astype(str)).sort_values(
                        ["__ts", "__sign", "__tie"], kind="stable"
                    )
                    for g, c, s in zip(
                        evs["__gkey"].tolist(), evs["__contrib"].tolist(), evs["__sign"].tolist()
                    ):
                        acc = subtractor(acc, g, c) if s < 0 else adder(acc, g, c)
                head = pdf.iloc[0]
                row = {"__gkey": [head["__gkey"]], "__acc": [acc], "__changed": [changed]}
                if windowed:
                    row[WINDOW_START] = [head[WINDOW_START]]
                return pd.DataFrame(row)

            folded = combined.groupBy(*group_cols).applyInPandas(fold_group, out_ddl)
            snap_path = os.path.join(state_dir, f"snap={batch_id}")
            folded.write.mode("overwrite").parquet(snap_path)
            # prune superseded snapshots AFTER the new one lands: only
            # the newest snapshot with id < batch_id is ever read, so
            # older generations are dead weight that would grow one
            # full state copy per trigger until the volume filled. Keep
            # the two newest (the new snapshot and the replay base a
            # retried batch would re-read).
            import shutil

            stale = sorted(s for s in snaps if s < batch_id)[:-1]
            for s in stale:
                shutil.rmtree(
                    os.path.join(state_dir, f"snap={s}"), ignore_errors=True
                )
            out = spark.read.parquet(snap_path).filter(F.col("__changed"))
            if not windowed:
                return out.select(
                    F.col("__gkey").alias(KEY),
                    F.col("__acc").alias(VALUE),
                    F.lit(None).cast("timestamp").alias(TIMESTAMP),
                )
            if emit_window:
                value = F.struct(
                    F.col(WINDOW_START).alias("win"), F.col("__acc").alias("v")
                )
            else:
                value = F.col("__acc")
            return out.select(
                F.col("__gkey").alias(KEY),
                value.alias(VALUE),
                F.timestamp_millis(F.col(WINDOW_START) + F.lit(int(size_ms))).alias(TIMESTAMP),
            )

        return DeferredStream(signed, [fold_batch])

    def _stateful_fold(
        self,
        agg,
        df: DataFrame,
        node: str,
        win=None,
        emit_window: bool = False,
        suppress: bool = False,
        ent: dict | None = None,
    ) -> DataFrame:
        """A4 full parity in streaming: an arbitrary Python
        (initial, adder) fold as a custom stateful operator via
        ``keyed_state`` — Arrow-batched, per-group state in
        the Spark state store, one output record per input record (the
        changelog), state carried across micro-batches.

        The reference runs the same adder inside Kafka Streams'
        aggregate (streams.clj:41-55); here the state store plays
        RocksDB's role and update-mode emission plays
        cache.max.bytes.buffering=0.

        Windowed variant (tumbling/hopping): records explode into their
        containing epoch-aligned windows (the Kafka-correct per-record
        enumeration, operators/windows.py) and the fold state is keyed
        by (group, window-start) — same operator, finer key. Output key
        is the bare group key (P8 unwrap, core.clj:20-24); with
        ``emit_window`` the value carries its window start like the
        column-tier path.

        ``suppress`` (windowed only — the caller rejects unwindowed
        suppression): final-only emission via EventTimeTimeout — each
        (group, window) state arms a timeout at the window END and
        emits ONE row when the watermark passes it, Kafka's
        suppress-until-window-close, congruent with the column tier's
        append-mode windowed path. Window assignment uses the TRUE event
        ms (the +1ms epoch-edge shift applies to the watermark column
        only — epoch-aligned windows, unlike sessions, are not
        shift-invariant, so shifting the assignment ms would move a
        boundary record into the next window)."""
        initial, adder = agg.initial, agg.adder
        acc_type = agg.acc_type if isinstance(agg.acc_type, str) else agg.acc_type.simpleString()
        windowed = win is not None
        size_ms = int(win.size_ms) if windowed else 0
        session_tz = _resolve_session_tz(self.spark)
        if suppress:
            # +1ms epoch-edge shift on the WATERMARK column (the
            # session-fold rule: append-mode late-row filters drop
            # event time <= 0); assignment ms is un-shifted below
            wm_spec = (ent or {}).get("watermark", self.source_watermark)
            df = self._shift_event_time(df, wm_spec)
        gk_type = df.schema["__gkey"].dataType.simpleString()

        def fold(key, state, rows, timed_out, _wm):
            win_start = int(key[1]) if windowed else 0
            if timed_out:
                # suppress: the (group, window) closed; emit it ONCE
                wall_end = _session_wallclock(win_start + size_ms, session_tz)
                return None, [(key[0], state[0], wall_end, win_start)], None
            acc, out = state[0], []
            for v, ts in zip(rows[VALUE].tolist(), rows[TIMESTAMP].tolist()):
                acc = adder(acc, key[0], v)
                if not suppress:
                    out.append((key[0], acc, ts, win_start))
            # the branch watermark runs in the +1ms-shifted domain, so
            # the true window end e closes when the shifted watermark
            # passes e + 1
            return (acc,), out, (win_start + size_ms + 1) if suppress else None

        src = df.select(F.col("__gkey"), F.col(VALUE), F.col(TIMESTAMP))
        if windowed:
            # TRUE event ms for assignment: under suppress the
            # timestamp column is shifted +1ms for the watermark, and
            # epoch-aligned windows must not inherit that shift
            ms_col = F.unix_millis(F.col(TIMESTAMP)) - (
                F.lit(1) if suppress else F.lit(0)
            )
            src = assign_time_windows(
                src.withColumn("__ms", ms_col),
                "__ms",
                win.size_ms,
                win.advance_ms,
            ).select(F.col("__gkey"), F.col(WINDOW_START), F.col(VALUE), F.col(TIMESTAMP))
        folded = keyed_state(
            src,
            ["__gkey", WINDOW_START] if windowed else ["__gkey"],
            fold,
            f"{KEY} {gk_type}, {VALUE} {acc_type}, {TIMESTAMP} timestamp, __win long",
            f"acc {acc_type}",
            order_by=TIMESTAMP,
            default=(initial,),
            output_mode="append" if suppress else "update",
            timeout="event" if suppress else None,
        )
        if windowed and emit_window:
            value = F.struct(F.col("__win").alias("win"), F.col(VALUE).alias("v"))
        else:
            value = F.col(VALUE)
        return folded.select(F.col(KEY), value.alias(VALUE), F.col(TIMESTAMP))

    def _stateful_session_fold(
        self, agg, df: DataFrame, ent: dict, node: str, win
    ) -> DataFrame:
        """A3×A4 fused: session-windowed Python folds in streaming as ONE
        custom stateful operator — ``keyed_state`` keyed by
        the group key, whose state is the set of OPEN sessions
        ``(start, end, acc)`` for that key. This is the session-store
        role Kafka Streams' window-by-session + aggregate plays
        (streams.clj:164, streams.clj:41-55): a record within
        ``gap`` of an open session extends it and folds in; a record
        bridging several open sessions merges them with the aggregate's
        ``merger`` (Kafka Streams' session Merger — required here for
        the same reason it is required there); anything else opens a
        new session.

        Emission: without ``suppress``, every input record emits the
        changelog row of its session (update mode — the batch engine's
        per-record fold output); with ``suppress``, sessions emit once,
        when the event-time watermark passes ``end + gap`` (append mode
        via EventTimeTimeout — Kafka's suppress-until-window-close).

        Congruity vs batch: exact when arrival order is timestamp
        order (records are sorted within each micro-batch). Late data
        folds in arrival order and may emit pre-merge window starts
        under ``emit_window`` — same documented arrival-order
        divergence as the stateful table joins.

        Scale: state per group key is only the open sessions' (start,
        end, acc) triples — closed sessions are evicted as soon as the
        watermark passes (suppress: on their timeout; update mode:
        opportunistically on the key's next record). Update-mode state
        is additionally boundable with ``state_ttl`` (a duration
        string, e.g. '"state_ttl": "1 hour"'): a processing-time
        timeout that evicts ALL of a key's open sessions once the key
        has been idle that long — covering both the
        no-watermark-anywhere topology (no event-time bound exists to
        evict against) and keys that simply stop receiving records
        (whose sweep would otherwise never re-run). Eviction is silent:
        update mode already emitted every session's changelog rows
        per-record. TRIGGER CONSTRAINT: state_ttl requires a
        processing-time (or continuous) trigger — Spark unconditionally
        schedules another micro-batch while a ProcessingTimeTimeout
        operator holds state (FlatMapGroupsWithStateExec.
        shouldRunAnotherBatch), so an availableNow drain never
        terminates. One shuffle by group key, Arrow-batched, same
        partitioning Kafka Streams' repartition topic would give the
        session store.
        """
        if agg.merger is None:
            raise ValueError(
                "session-window Python folds in streaming need a 'merger' "
                "(Aggregate.fold(..., merger=...)): two open sessions merge "
                "when a late record bridges their gaps — Kafka Streams' "
                "session Merger requirement"
            )
        suppress = bool(ent.get("suppress"))
        if suppress and not ent.get("watermark") and not self.source_watermark:
            raise ValueError(
                f"entity {node!r}: suppression (append mode) requires a 'watermark'"
            )
        ttl_ms: int | None = None
        if ent.get("state_ttl") is not None:
            if suppress:
                raise ValueError(
                    f"entity {node!r}: 'state_ttl' applies to update-mode "
                    "session folds only — suppression already bounds state "
                    "via its event-time timeout"
                )
            raw_ttl = ent["state_ttl"]
            ttl_ms = (
                int(raw_ttl)
                if isinstance(raw_ttl, (int, float))
                else _try_duration_ms(raw_ttl)
            )
            if ttl_ms is None or ttl_ms <= 0:
                raise ValueError(
                    f"entity {node!r}: unparseable state_ttl {raw_ttl!r}; use "
                    "'<n> <unit>' (e.g. '1 hour')"
                )
        # +1ms epoch-edge shift (same as the stream-stream join path):
        # the append-mode late-row filter clamps its watermark at 0 and
        # drops rows with event time <= 0 — a record EXACTLY at the
        # epoch would vanish from its session. Shift uniformly (gap
        # math unchanged), unshift on output; _shift_event_time keeps
        # the branch to a single EventTimeWatermark node.
        wm_spec = ent.get("watermark", self.source_watermark)
        shift = F.expr("INTERVAL 1 MILLISECONDS")
        df = self._shift_event_time(df, wm_spec)
        session_tz = _resolve_session_tz(self.spark)
        initial, adder, merger = agg.initial, agg.adder, agg.merger
        gap = int(win.gap_ms)
        acc_type = (
            agg.acc_type if isinstance(agg.acc_type, str) else agg.acc_type.simpleString()
        )
        gk_type = df.schema["__gkey"].dataType.simpleString()
        emit_window = bool(ent.get("emit_window"))

        def fold(key, state, rows, timed_out, wm):
            gk = key[0]
            if timed_out and ttl_ms is not None:
                # key idle >= state_ttl: evict every open session.
                # Silent — update mode already emitted their changelog
                # rows per-record.
                return None, [], None
            starts, ends, accs = (list(c) for c in state)
            wm = -(1 << 62) if wm is None else wm
            out = []
            if not timed_out:
                for ms, v, ts in zip(
                    rows["__ms"].tolist(), rows[VALUE].tolist(), rows[TIMESTAMP].tolist()
                ):
                    ms = int(ms)
                    hit = [
                        i
                        for i, (s, e) in enumerate(zip(starts, ends))
                        if s - gap <= ms <= e + gap
                    ]
                    if not hit:
                        starts.append(ms)
                        ends.append(ms)
                        accs.append(adder(initial, gk, v))
                        idx = len(starts) - 1
                    else:
                        # merge in SESSION-TIME order (not state-list
                        # arrival order): merger always combines the
                        # temporally earlier accumulator on the left,
                        # matching Kafka Streams' session Merger
                        # contract for non-commutative accumulators
                        hit.sort(key=lambda i: starts[i])
                        idx, dels = hit[0], hit[1:]
                        for j in dels:
                            starts[idx] = min(starts[idx], starts[j])
                            ends[idx] = max(ends[idx], ends[j])
                            accs[idx] = merger(gk, accs[idx], accs[j])
                        for j in sorted(dels, reverse=True):
                            del starts[j], ends[j], accs[j]
                        idx -= sum(1 for j in dels if j < idx)
                        starts[idx] = min(starts[idx], ms)
                        ends[idx] = max(ends[idx], ms)
                        accs[idx] = adder(accs[idx], gk, v)
                    if not suppress:
                        out.append((gk, accs[idx], ts, starts[idx]))
            # close sessions the watermark has passed: emit once in
            # suppress mode (their final fold), silently evict in update
            # mode (already emitted per-record)
            kept = []
            for s, e, a in zip(starts, ends, accs):
                if e + gap > wm:
                    kept.append((s, e, a))
                elif suppress:
                    out.append((gk, a, _session_wallclock(e, session_tz), s))
            if not kept:
                return None, out, None
            starts, ends, accs = (list(c) for c in zip(*kept))
            # suppress fires when the watermark passes the earliest
            # close; state_ttl re-arms the idle clock on every batch
            # with records
            at = min(e + gap for e in ends) if suppress else ttl_ms
            return (starts, ends, accs), out, at

        src = df.select(
            F.col("__gkey"),
            F.col(VALUE),
            F.col(TIMESTAMP),
            F.unix_millis(F.col(TIMESTAMP)).alias("__ms"),
        )
        folded = keyed_state(
            src,
            ["__gkey"],
            fold,
            f"{KEY} {gk_type}, {VALUE} {acc_type}, {TIMESTAMP} timestamp, __win long",
            f"starts array<long>, ends array<long>, accs array<{acc_type}>",
            order_by="__ms",
            default=([], [], []),
            output_mode="append" if suppress else "update",
            timeout="event" if suppress else "processing" if ttl_ms is not None else None,
        )
        if emit_window:
            # -1: undo the epoch shift on the carried window start
            value = F.struct(
                (F.col("__win") - F.lit(1)).alias("win"), F.col(VALUE).alias("v")
            )
        else:
            value = F.col(VALUE)
        return folded.select(
            F.col(KEY), value.alias(VALUE), (F.col(TIMESTAMP) - shift).alias(TIMESTAMP)
        )

    # -- build -----------------------------------------------------------
    def build(self, inputs: dict[str, DataFrame]) -> dict[str, DataFrame]:
        """Return one streaming DataFrame per entity (leaves are the
        sink streams); attach sinks with ``start_queries`` or your own
        ``writeStream``.

        Compiled inside ``pin_filters_to_event_time``: streaming filters
        must stay ABOVE the source watermark node so every consumed
        record advances stream time (see transforms.py) — otherwise a
        selective filter stalls downstream suppressed windows."""
        from ..transforms import pin_filters_to_event_time

        self._inputs = inputs
        with pin_filters_to_event_time():
            return {k: v for k, v in self._walk().items() if v is not None}

    def start_queries(
        self,
        built: dict[str, DataFrame],
        checkpoint_dir: str,
        trigger: dict | None = None,
    ) -> dict[str, "object"]:
        """Attach one sink per LEAF topic and start the queries
        (S3 — the reference's topic sinks, core.clj:16-18). Each leaf
        entity may carry a ``sink`` config:

            {"format": "parquet"|"csv"|"json", "path": ..., "options": {...}}
            {"format": "kafka", "kafka": {"bootstrap_servers": ..., "topic": ...},
             "serde": {...}}
            {"format": "memory"}                      # default

        File sinks are APPEND-ONLY in Structured Streaming: leaves
        downstream of update-mode stateful operators must use kafka /
        memory / your own ``foreachBatch`` — rejected here with a
        clear error rather than failing inside Spark. Checkpoints land
        under ``checkpoint_dir/<leaf>``; ``trigger`` passes through to
        ``writeStream.trigger`` (default: availableNow).

        Returns {leaf: StreamingQuery}. Deferred leaves (downstream of
        a refreshing global table) run their per-batch tail inside
        ``foreachBatch`` and append to the file sink batch-side.
        """
        import os

        from ..graph import leaves as _leaves
        from ..sources.kafka import kafka_sink_columns, kafka_sink_options

        trigger = trigger or {"availableNow": True}
        # state_ttl arms ProcessingTimeTimeout, under which Spark
        # unconditionally schedules another micro-batch while state
        # exists (FlatMapGroupsWithStateExec.shouldRunAnotherBatch) —
        # an availableNow drain would NEVER terminate. Reject loudly
        # here instead of hanging in awaitTermination.
        if trigger.get("availableNow"):
            ttl_ents = [
                eid
                for eid, ent in self.entities.items()
                if ent.get("state_ttl") is not None
            ]
            if ttl_ents:
                raise ValueError(
                    f"entities {ttl_ents!r} use 'state_ttl', which requires a "
                    "processing-time trigger (e.g. trigger={'processingTime': "
                    "'10 seconds'}): under availableNow the ProcessingTime"
                    "Timeout operator always schedules another micro-batch, so "
                    "the drain never terminates"
                )
        queries: dict[str, object] = {}
        for leaf in sorted(_leaves(list(self.topology["workflow"]))):
            sink = built.get(leaf)
            if sink is None:
                continue
            ent = self.entities[leaf]
            cfg = ent.get("sink") or {"format": "memory"}
            fmt = cfg.get("format", "memory")
            mode = self.output_mode_for(leaf)
            chk = os.path.join(checkpoint_dir, leaf.replace("-", "_"))
            deferred = isinstance(sink, DeferredStream)
            if fmt in ("parquet", "csv", "json"):
                if mode != "append":
                    raise ValueError(
                        f"leaf {leaf!r}: file sinks are append-only but this "
                        f"leaf runs in {mode!r} mode (a stateful ancestor "
                        "emits updates); sink to kafka/memory or use "
                        "foreachBatch with your own idempotent writer"
                    )
                if deferred:
                    path, options = cfg["path"], cfg.get("options", {})

                    def _write(batch_df: DataFrame, bid: int, d=sink, p=path, o=options, f=fmt):
                        d.apply(batch_df, bid).write.options(**o).mode("append").format(
                            f
                        ).save(p)

                    writer = sink.df.writeStream.foreachBatch(_write)
                else:
                    writer = (
                        sink.writeStream.format(fmt)
                        .options(**{k: str(v) for k, v in cfg.get("options", {}).items()})
                        .option("path", cfg["path"])
                    )
            elif fmt == "kafka":
                if deferred:
                    raise NotImplementedError(
                        f"leaf {leaf!r}: kafka sink downstream of a refreshing "
                        "global table is unsupported; use a file sink"
                    )
                # writer-side options only: kafka.* client passthrough
                # (auth/TLS identical to the source path) + user
                # options — source subscription strategy keys never
                # reach the producer
                opts = kafka_sink_options(cfg["kafka"])
                writer = (
                    kafka_sink_columns(sink, cfg.get("serde"))
                    .writeStream.format("kafka")
                    .options(**{k: str(v) for k, v in opts.items()})
                    .option("topic", cfg["kafka"]["topic"])
                    .outputMode(mode)
                )
            elif fmt == "memory":
                if deferred:
                    raise NotImplementedError(
                        f"leaf {leaf!r}: memory sink downstream of a refreshing "
                        "global table is unsupported here; use run_streaming_topology"
                    )
                writer = sink.writeStream.format("memory").queryName(
                    f"{leaf.replace('-', '_')}_sink"
                ).outputMode(mode)
            else:
                # an unknown format must fail loudly, not silently fall
                # back to an in-memory table while the user's files
                # never appear
                raise ValueError(
                    f"leaf {leaf!r}: unknown sink format {fmt!r}; supported: "
                    "parquet, csv, json, kafka, memory"
                )
            if fmt in ("parquet", "csv", "json") and not deferred:
                writer = writer.outputMode("append")
            queries[leaf] = (
                writer.option("checkpointLocation", chk).trigger(**trigger).start()
            )
        return queries

    def _parent_mode(self, node: str) -> str | None:
        """The output mode a stateful ancestor imposes on ``node``."""
        modes = [self.output_modes.get(p) for p in model.parents_of(self.topology, node)]
        return next(filter(None, modes), None)

    def _built(self, node: str, ent: dict, df):
        mode = self._parent_mode(node)
        if mode:
            self.output_modes[node] = mode
        return df

    def _node(self, node: str, ent: dict, combined):
        etype = ent["type"]
        deferred = isinstance(combined, DeferredStream)
        out = combined
        if etype == model.TOPIC:
            source_df = self._inputs.get(node)
            if source_df is None and ent.get("file"):
                from ..sources.files import read_records

                source_df = read_records(self.spark, ent["file"], streaming=True)
            if source_df is not None:
                if deferred:
                    raise NotImplementedError(
                        f"topic {node!r}: merging a source with a stream "
                        "downstream of a refreshed global table is unsupported"
                    )
                src = self._ingest(source_df)
                out = src if combined is None else combined.unionByName(src)
        elif etype == model.KSTREAM:
            if deferred:
                # stateless: re-runs per micro-batch inside foreachBatch
                xform = ent.get("xform")
                out = combined.then(lambda df, _bid, x=xform: apply_xform(df, x))
            elif combined is not None:
                out = apply_xform(combined, ent.get("xform"))
        elif etype == model.KTABLE:
            if deferred:
                raise NotImplementedError(
                    f"ktable {node!r}: stateful aggregation downstream of a "
                    "refreshed global table join is unsupported (per-batch "
                    "re-aggregation would lose cross-trigger state); use a "
                    "frozen static_source DataFrame instead"
                )
            if combined is not None:
                out = self._ktable(ent, combined, node)
        elif etype == model.GLOBAL_KTABLE:
            # joined via a static snapshot, not as a stream: the parent
            # topic's latest state as a batch DataFrame (streaming sources
            # can't be collected), or a zero-arg callable re-evaluated at
            # every micro-batch (continuously-updated dim, core.clj:109-118)
            static = ent.get("static_source")
            if static is None:
                raise ValueError(
                    f"global_ktable {node!r} needs 'static_source' (batch "
                    f"DataFrame of records, or a zero-arg callable returning "
                    f"one, re-read per micro-batch) in streaming mode; "
                    f"parent={model.parents_of(self.topology, node)}"
                )
            self._static[node] = static
            out = None
        mode = self._parent_mode(node)
        if mode and out is not None:
            self.output_modes[node] = mode
        return out

    def output_mode_for(self, node: str) -> str:
        return self.output_modes.get(node, "append")


def run_streaming_topology(
    spark: SparkSession,
    topology: dict,
    inputs: dict[str, Any],
    tmpdir: str,
    extra_files: dict[str, list] | None = None,
) -> dict[str, list[tuple]]:
    """Test/congruity harness: feed record lists through a file source
    (one parquet file per list → one micro-batch each, in order), run
    every leaf topic into a memory sink with availableNow, and return
    collected (key, value) rows per leaf.

    ``extra_files``: {entity: [records]} appended as later files —
    e.g. future-timestamped sentinels to advance the watermark so
    append-mode windows / outer joins flush.
    """
    import os
    import time

    from ..batch import seed_records
    from ..graph import leaves

    runner = StreamingTopologyRunner(spark, topology)
    stream_inputs: dict[str, DataFrame] = {}
    # entities fed only via extra_files still need a (possibly empty)
    # first batch so their source exists from the start
    inputs = dict(inputs)
    for eid in extra_files or {}:
        inputs.setdefault(eid, [])
    for eid, records in inputs.items():
        ent = topology["entities"][eid]
        d = os.path.join(tmpdir, eid)
        os.makedirs(d, exist_ok=True)
        batch = seed_records(
            spark, records, ent.get("key_type", "string"), ent.get("value_type", "bigint")
        ).withColumn(TIMESTAMP, F.timestamp_millis(F.col(TIMESTAMP)))
        batch.select(KEY, VALUE, TIMESTAMP).coalesce(1).write.mode("append").parquet(d)
        if extra_files and eid in extra_files:
            batches = extra_files[eid]
            # either one batch of records, or a list of batches — each
            # batch becomes one file → one micro-batch (successive
            # watermark advances, needed e.g. to fire the nil-dedup
            # operator's event-time timeouts)
            if not (batches and isinstance(batches[0], list)):
                batches = [batches]
            for batch_records in batches:
                time.sleep(0.05)  # later mtime → later micro-batch
                extra = seed_records(
                    spark, batch_records, ent.get("key_type", "string"), ent.get("value_type", "bigint")
                ).withColumn(TIMESTAMP, F.timestamp_millis(F.col(TIMESTAMP)))
                extra.select(KEY, VALUE, TIMESTAMP).coalesce(1).write.mode("append").parquet(d)
        schema = spark.read.parquet(d).schema
        stream_inputs[eid] = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
    built = runner.build(stream_inputs)
    results: dict[str, list[tuple]] = {}
    queries = []
    sink_names = {}
    def _store_name(leaf: str) -> str:
        """A7 (core.clj:95-96): a stateful ancestor's store_name names
        the state location; default = the leaf id (reference default is
        hash(parents) — an explicit name beats a hash for operability)."""
        seen, stack = set(), [leaf]
        while stack:
            n = stack.pop()
            if n in seen:
                continue
            seen.add(n)
            ent = topology["entities"][n]
            if ent.get("store_name"):
                return str(ent["store_name"])
            stack.extend(model.parents_of(topology, n))
        return leaf

    foreach_rows: dict[str, list] = {}
    for i, leaf in enumerate(sorted(leaves(list(topology["workflow"])))):
        if leaf not in built:
            continue
        chk = os.path.join(tmpdir, f"chk_{_store_name(leaf).replace('-', '_')}_{i}")
        sink = built[leaf]
        if isinstance(sink, DeferredStream):
            # refreshed-global-table leaf: the deferred batch transforms
            # (dim re-read + join + stateless tail) run per micro-batch
            # inside foreachBatch; rows accumulate driver-side
            acc: list = []
            foreach_rows[leaf] = acc

            def make_sink(deferred: DeferredStream, acc: list):
                def write_batch(batch_df: DataFrame, batch_id: int) -> None:
                    acc.extend(deferred.apply(batch_df, batch_id).collect())

                return write_batch

            q = (
                sink.df.writeStream.foreachBatch(make_sink(sink, acc))
                .outputMode(runner.output_mode_for(leaf))
                .option("checkpointLocation", chk)
                .trigger(availableNow=True)
                .start()
            )
            queries.append(q)
            continue
        qname = f"sink_{leaf.replace('-', '_')}_{abs(hash(tmpdir)) % 10_000}_{i}"
        sink_names[leaf] = qname
        q = (
            sink.writeStream.format("memory")
            .queryName(qname)
            .outputMode(runner.output_mode_for(leaf))
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        queries.append(q)
    for q in queries:
        # availableNow must drain within the timeout — a False return
        # means partial sink contents, which would silently pass as a
        # congruity mismatch-flake instead of failing loudly
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError(
                f"streaming query {q.name} did not finish within 120s "
                "(availableNow trigger wedged or too slow)"
            )
    def _rows_out(rows) -> list[tuple]:
        out = []
        for r in rows:
            v = r[VALUE]
            if hasattr(v, "asDict"):
                v = tuple(v)
            elif isinstance(v, list):
                v = tuple(v)
            out.append((r[KEY], v))
        return out

    for leaf, qname in sink_names.items():
        results[leaf] = _rows_out(spark.sql(f"SELECT * FROM {qname}").collect())
    for leaf, rows in foreach_rows.items():
        results[leaf] = _rows_out(rows)
    return results
