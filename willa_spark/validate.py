"""Topology validation — plain-Python port of the reference's spec rules
(specs.clj:113-147), raising precise errors instead of spec explanations.

Rules enforced (citations into /root/reference/src/willa/specs.clj):
- workflow edges are distinct, non-self pairs forming a DAG (113-118)
- every id referenced in workflow exists in entities (138-145)
- all roots and leaves of the DAG are topics (126-133, 146-147)
- entity type is one of the known types (54-86)
- aggregation conditional-keys rule: any aggregation key present =>
  group_by + aggregate(init, adder) all required (75-86, README.md:215-219)
- global_ktable: exactly one parent and it must be a topic (core.clj:109-118)
- join configs reference known entities and a known join type, and every
  step of each join's fold has a shape that implements that type
  (walk.JOIN_SHAPES)
"""

from __future__ import annotations

from . import model
from .graph import CycleError, leaves, roots, topological_sort
from .walk import unsupported_step


class TopologyError(ValueError):
    pass


def validate(topology: dict) -> list[str]:
    """Validate; returns the topological order on success, raises
    TopologyError with an exact message on the first violation."""
    if not isinstance(topology, dict):
        raise TopologyError("topology must be a dict")
    entities = topology.get("entities")
    workflow = topology.get("workflow")
    if not isinstance(entities, dict) or not entities:
        raise TopologyError("topology['entities'] must be a non-empty dict")
    if not isinstance(workflow, (list, tuple)) or not workflow:
        raise TopologyError("topology['workflow'] must be a non-empty edge list")

    seen_edges = set()
    for edge in workflow:
        if not (isinstance(edge, (list, tuple)) and len(edge) == 2):
            raise TopologyError(f"workflow edge must be a (from, to) pair: {edge!r}")
        src, dst = edge
        if src == dst:
            raise TopologyError(f"self-edge not allowed: {edge!r}")  # specs.clj:115
        if (src, dst) in seen_edges:
            raise TopologyError(f"duplicate workflow edge: {edge!r}")  # specs.clj:114
        seen_edges.add((src, dst))

    # Every workflow id exists in entities (specs.clj:138-145).
    wf_ids = {n for e in workflow for n in e}
    missing = sorted(wf_ids - set(entities))
    if missing:
        raise TopologyError(f"workflow references unknown entities: {missing}")

    for eid, ent in entities.items():
        etype = ent.get("type")
        if etype not in model.ENTITY_TYPES:
            raise TopologyError(
                f"entity {eid!r}: unknown type {etype!r} (expected one of {model.ENTITY_TYPES})"
            )
        # Conditional aggregation keys (specs.clj:75-86): windowing or
        # aggregation on a ktable requires the full aggregate triple.
        if etype == model.KTABLE:
            has_agg_key = any(k in ent for k in ("group_by", "window", "aggregate", "suppress"))
            if has_agg_key and "aggregate" in ent:
                agg = ent["aggregate"]
                if not (hasattr(agg, "is_aggregate_spec") or isinstance(agg, dict)):
                    raise TopologyError(
                        f"entity {eid!r}: 'aggregate' must be an Aggregate spec"
                    )
            # The full dependent-keys rule (specs.clj:74-86): ANY
            # aggregation key present requires the aggregate itself —
            # including group_by and retract, which the batch engine
            # would otherwise silently IGNORE (records keeping their
            # original keys with no warning).
            # truthiness, not presence: both engines treat
            # group_by=None / retract=False / suppress=False as
            # absent (batch.py's `is not None` / bool() reads), so an
            # explicitly-disabled flag must not be rejected here
            agg_keys = [
                k for k in ("group_by", "window", "suppress", "retract") if ent.get(k)
            ]
            if agg_keys and "aggregate" not in ent:
                raise TopologyError(
                    f"entity {eid!r}: {agg_keys} require an 'aggregate' "
                    "(specs.clj:74-86 dependent-keys rule — without it the "
                    "ktable is a changelog passthrough and these keys "
                    "would be ignored)"
                )
        if etype == model.TOPIC and eid not in wf_ids:
            # standalone topic is fine (e.g. only used as global table source)
            pass

    try:
        order = topological_sort(list(workflow))
    except CycleError as e:  # specs.clj:116-118 (DAG requirement)
        raise TopologyError(str(e)) from e

    # Roots and leaves must be topics (specs.clj:126-133, 146-147).
    for r in sorted(roots(list(workflow))):
        if entities[r]["type"] != model.TOPIC:
            raise TopologyError(f"workflow root {r!r} must be a topic")
    for l in sorted(leaves(list(workflow))):
        if entities[l]["type"] != model.TOPIC:
            raise TopologyError(f"workflow leaf {l!r} must be a topic")

    # global_ktable: single topic parent (core.clj:109-118).
    for eid, ent in entities.items():
        if ent["type"] == model.GLOBAL_KTABLE:
            ps = model.parents_of(topology, eid)
            if len(ps) != 1 or entities[ps[0]]["type"] != model.TOPIC:
                raise TopologyError(
                    f"global_ktable {eid!r} must have exactly one topic parent, got {ps}"
                )

    # Joins reference known entities + known types (core.clj:59-68).
    for ids, cfg in (topology.get("joins") or {}).items():
        for i in ids:
            if i not in entities:
                raise TopologyError(f"join {tuple(ids)!r} references unknown entity {i!r}")
        jt = cfg.get("type", "merge")
        if jt not in model.JOIN_TYPES:
            raise TopologyError(
                f"join {tuple(ids)!r}: unknown join type {jt!r} (expected {model.JOIN_TYPES})"
            )
        if jt == "merge":
            continue
        # Join-type ⋈ shape compatibility at compile time, from the shape
        # table both engines dispatch on. Every consumer's own fold order
        # is checked: a frozenset-keyed join falls back to each consumer's
        # workflow-parent order, so two consumers of one join can fold in
        # different orders and only one of them be a supported shape.
        consumers = [
            n for n in entities if frozenset(model.parents_of(topology, n)) == frozenset(ids)
        ]
        for consumer in consumers:
            ordered, _ = model.get_join(topology, model.parents_of(topology, consumer))
            bad = unsupported_step(entities, ordered, jt)
            if bad is not None:
                supported = (
                    ", ".join(sorted(bad.join_types))
                    if bad.join_types
                    else "none — reorder the join so a stream or table drives"
                )
                raise TopologyError(
                    f"join {tuple(ids)!r} (into {consumer!r}): type "
                    f"{jt!r} is unsupported for the {bad.left_type}⋈{bad.right_type} "
                    f"shape (supported there: {supported})"
                )
    return order
