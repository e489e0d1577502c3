"""Topology data model — the single source of truth for the DSL.

A topology is a plain Python dict with three keys, mirroring the
reference's data-driven design (reference: README.md:46-53,
core.clj:122-133 — topology = {:entities, :workflow, :joins}):

    topology = {
        "entities": {entity_id: entity_dict, ...},
        "workflow": [(from_id, to_id), ...],          # DAG edges
        "joins": {frozenset_or_tuple_of_ids: join_cfg, ...},
    }

Entity dicts (reference specs.clj:54-86):

    {"type": "topic",  "source": <DataFrame | path | callable(spark)->DF>}
    {"type": "kstream", "xform": <Transform | [Transform, ...]>}
    {"type": "ktable",
        "group_by":  Column-expr fn ([k v]-keyed grouping, core.clj:99),
        "window":    Window spec (tumbling/hopping/session, streams.clj:162-165),
        "aggregate": Aggregate spec (init + adder [+ subtractor], streams.clj:41-55),
        "suppress":  "until_window_closes" (streams.clj:169-172),
        "store_name": str,
        "watermark": "10 seconds",   # Spark-required addition (SURVEY §2.7)
    }
    {"type": "global_ktable"}   # core.clj:109-118

Join config (reference core.clj:59-62, README.md:224-230):

    {"type": "inner" | "left" | "outer" | "merge",
     "window": (before_ms, after_ms),     # stream-stream time band
     "kv_mapper": fn(key_col, value_col) -> Column,  # global-table join key
    }

Every entity's DataFrame carries the universal record schema
(reference README.md:186-188, experiment.clj:287-291):

    key: any type | value: any type | timestamp: TimestampType

Records are rows; execution is Spark-columnar underneath.
"""

from __future__ import annotations

from typing import Any

# Canonical record column names.
KEY = "key"
VALUE = "value"
TIMESTAMP = "timestamp"
RECORD_COLUMNS = (KEY, VALUE, TIMESTAMP)

# Entity types (reference core.clj:71-118 multimethod dispatch values).
TOPIC = "topic"
KSTREAM = "kstream"
KTABLE = "ktable"
GLOBAL_KTABLE = "global_ktable"
ENTITY_TYPES = (TOPIC, KSTREAM, KTABLE, GLOBAL_KTABLE)

# Join types (reference specs.clj join-type values + :merge default,
# streams.clj:58-82). Spark-extra types are free wins (SURVEY §2.5).
JOIN_TYPES = ("inner", "left", "outer", "merge", "left_semi", "left_anti")


def normalize_join_key(ids) -> frozenset:
    """Joins are keyed by the *set* of participant ids (core.clj:59-62)."""
    return frozenset(ids)


def get_join(topology: dict, parent_ids) -> tuple[Any, dict] | tuple[None, None]:
    """Find the join whose participant set equals ``parent_ids``
    (reference `get-join`, core.clj:59-62). Returns (ordered_ids, cfg)."""
    want = frozenset(parent_ids)
    for ids, cfg in (topology.get("joins") or {}).items():
        if frozenset(ids) == want:
            # Set-typed keys carry no left/right order: fall back to the
            # workflow-parent order, never an alphabetical sort (the
            # reference keeps the key vector's order while comparing as a
            # set, core.clj:59-62 — which side is "left" in asymmetric
            # joins must not depend on entity names).
            ordered = list(ids) if not isinstance(ids, frozenset) else list(parent_ids)
            return ordered, cfg
    return None, None


def entity_type(entity: dict) -> str:
    return entity["type"]


def joinable_type(entities: dict, eid: str) -> str:
    """Topic legs join as streams (experiment.clj:134-138). The ONE
    copy of the coercion — batch, streaming, and validate all call
    this, so their join-shape verdicts can never drift."""
    t = entities[eid]["type"]
    return KSTREAM if t == TOPIC else t


def parents_of(topology: dict, node: str) -> list[str]:
    """Workflow predecessors, in edge-list order (core.clj:126)."""
    return [src for (src, dst) in topology["workflow"] if dst == node]


def children_of(topology: dict, node: str) -> list[str]:
    return [dst for (src, dst) in topology["workflow"] if src == node]
