"""The topology walk both compilers share.

willa builds a topology with one workflow fold: topsort the workflow,
then build each node from its parents (``build-topology!``,
core.clj:122-133); its interpreter ``run-experiment`` walks the same
order over record lists (experiment.clj:241-255). This module is that
walk, once, for the batch engine, the streaming engine and ``validate``:

- the node loop over the validated topological order, and the ``build``
  override hook (core.clj:122-136) with the parent frames it receives;
- the merge-or-join decision (``model.get_join``);
- the pairwise join fold (``join_steps``, streams.clj:115-123): legs in
  join-config order; the accumulator keeps the first leg's joinable type
  (experiment.clj:141-149) and its tuple widens by one value per leg;
- ``JOIN_SHAPES``, the one table of implemented join shapes: ``validate``
  rejects every join it does not list, and the fold dispatches each step
  to the operator it names.

An engine subclasses ``TopologyWalk`` and supplies only its operators:
``_node``, ``_built`` (a ``build`` hook's result), ``_merge``, ``_legs``,
an optional ``_fused_join``, and one ``_join_<operator>`` per operator.
"""

from __future__ import annotations

from typing import Any, NamedTuple

from . import model
from .model import GLOBAL_KTABLE, KSTREAM, KTABLE

_ALL = ("inner", "left", "outer", "left_semi", "left_anti")
_LOOKUP = ("inner", "left", "left_semi", "left_anti")

#: (accumulated type, right type) -> (operator, implemented join types).
#: Nothing else is implemented: the reference defines no outer
#: stream⋈table and no table driving a stream (experiment.clj:123-135),
#: and a global table is only ever looked up (streams.clj:104-112), never
#: the driving leg. left_semi/left_anti are Spark extras (SURVEY §2.5).
JOIN_SHAPES: dict[tuple[str, str], tuple[str, tuple[str, ...]]] = {
    (KSTREAM, KSTREAM): ("stream_stream", _ALL),
    (KTABLE, KTABLE): ("table_table", _ALL),
    (KSTREAM, KTABLE): ("stream_table", _LOOKUP),
    (KSTREAM, GLOBAL_KTABLE): ("global_table", _LOOKUP),
    (KTABLE, GLOBAL_KTABLE): ("global_table", _LOOKUP),
}


class JoinStep(NamedTuple):
    """One step of the pairwise fold: the accumulator, ``left_arity``
    values wide and of ``left_type``, joins the leg ``right``."""

    right: str
    left_type: str
    right_type: str
    left_arity: int

    @property
    def operator(self) -> str | None:
        return JOIN_SHAPES.get((self.left_type, self.right_type), (None, ()))[0]

    @property
    def join_types(self) -> tuple[str, ...]:
        return JOIN_SHAPES.get((self.left_type, self.right_type), (None, ()))[1]


def join_steps(entities: dict, ordered: list[str]) -> list[JoinStep]:
    """The fold over the join legs ``ordered``, one step per leg after
    the first."""
    left_type = model.joinable_type(entities, ordered[0])
    return [
        JoinStep(right, left_type, model.joinable_type(entities, right), arity)
        for arity, right in enumerate(ordered[1:], start=1)
    ]


def unsupported_step(entities: dict, ordered: list[str], join_type: str) -> JoinStep | None:
    """The first fold step whose shape does not implement ``join_type``."""
    return next(
        (s for s in join_steps(entities, ordered) if join_type not in s.join_types), None
    )


class TopologyWalk:
    """The node loop; subclasses set ``spark``, ``topology``, ``entities``
    and ``order`` (from ``validate``) and implement the operator hooks."""

    spark: Any
    topology: dict
    entities: dict
    order: list[str]

    def _walk(self) -> dict[str, Any]:
        """{entity: output or None}, built in topological order."""
        outputs: dict[str, Any] = {}
        for node in self.order:
            ent = self.entities[node]
            parents = model.parents_of(self.topology, node)
            if "build" in ent:
                frames = {p: outputs[p] for p in parents if outputs.get(p) is not None}
                outputs[node] = self._built(node, ent, ent["build"](self.spark, frames, ent))
            else:
                outputs[node] = self._node(node, ent, self._combine(node, parents, outputs))
        return outputs

    def _combine(self, node: str, parents: list[str], outputs: dict) -> Any:
        """The parents' outputs as one input: merged, or folded pairwise
        through the join whose legs are exactly ``parents``."""
        ordered, cfg = model.get_join(self.topology, parents)
        if cfg is None or cfg.get("type", "merge") == "merge":
            frames = [outputs[p] for p in parents if outputs.get(p) is not None]
            return self._merge(node, frames) if frames else None
        legs = self._legs(node, ordered, outputs)
        if legs is None:
            return None
        steps = join_steps(self.entities, ordered)
        fused = self._fused_join(node, cfg, legs, steps)
        if fused is not None:
            return fused
        acc = legs[0]
        for step, right in zip(steps, legs[1:]):
            acc = getattr(self, f"_join_{step.operator}")(node, cfg, step, acc, right)
        return acc

    def _fused_join(self, node: str, cfg: dict, legs: list, steps: list[JoinStep]) -> Any:
        return None
