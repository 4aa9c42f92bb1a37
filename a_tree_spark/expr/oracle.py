"""Single-node exact-oracle matcher: one event dict vs the compiled forest.

Direct transliteration of the reference's leaf evaluation
(/root/reference/src/predicates.rs:49-66,227-502) and Kleene combine
(src/atree.rs:612-695). Used in tests as the exact oracle for the
vectorized matcher (mirroring the reference's proptest strategy,
src/predicates.rs:1422-1475) and as a tiny embeddable matcher.

Tri-state encoding: FALSE=0 < UNKNOWN=1 < TRUE=2, so Kleene AND=min,
OR=max — identical truth tables to evaluate_and/evaluate_or.
"""

from __future__ import annotations

from .ast import Op, Predicate
from .compiler import AND, LEAF, CompiledForest, ForestBuilder
from .errors import WrongType
from .schema import AttributeKind, AttributeTable

FALSE, UNKNOWN, TRUE = 0, 1, 2


def _tri(value: bool) -> int:
    return TRUE if value else FALSE


def evaluate_leaf(predicate: Predicate, value) -> int:
    """Reference Predicate::evaluate (src/predicates.rs:49-66): null-check
    operators are matched BEFORE the Undefined guard; every other operator
    returns UNKNOWN on an Undefined (None) value."""
    op = predicate.op

    if op is Op.IS_NULL:
        return _tri(value is None)
    if op is Op.IS_NOT_NULL:
        return _tri(value is not None)
    if op in (Op.IS_EMPTY, Op.IS_NOT_EMPTY):
        # Reference hits unreachable!() for Undefined lists
        # (src/predicates.rs:495-500); we define it as UNKNOWN (SQL NULL).
        if value is None:
            return UNKNOWN
        empty = len(value) == 0
        return _tri(empty if op is Op.IS_EMPTY else not empty)

    if value is None:
        return UNKNOWN

    operand = predicate.operand
    if op is Op.VAR:
        return _tri(bool(value))
    if op is Op.NVAR:
        return _tri(not value)
    if op is Op.EQ:
        return _tri(value == operand)
    if op is Op.NE:
        return _tri(value != operand)
    if op is Op.LT:
        return _tri(value < operand)
    if op is Op.LE:
        return _tri(value <= operand)
    if op is Op.GT:
        return _tri(value > operand)
    if op is Op.GE:
        return _tri(value >= operand)
    if op is Op.IN:
        return _tri(value in operand)
    if op is Op.NOT_IN:
        return _tri(value not in operand)

    event_set = set(value)
    literal_set = set(operand)
    if op is Op.ONE_OF:
        # false when either side is empty (src/predicates.rs:404-406)
        return _tri(bool(event_set and literal_set and event_set & literal_set))
    if op is Op.NONE_OF:
        return _tri(not (event_set and literal_set and event_set & literal_set))
    if op is Op.ALL_OF:
        # event list ⊆ literal list; empty event list -> true
        # (src/predicates.rs:434-461)
        return _tri(event_set <= literal_set)
    if op is Op.NOT_ALL_OF:
        return _tri(not (event_set <= literal_set))
    raise AssertionError(f"unhandled operator {op}")


def evaluate_event(forest: CompiledForest, event: dict) -> list:
    """Return the sorted list of subscription ids whose expression is
    Kleene-TRUE on the event (reference search, src/atree.rs:255-311;
    match condition = Some(true), src/atree.rs:697-706)."""
    values = []
    names = forest.attributes.names()
    nodes = zip(
        forest.node_kind.tolist(), forest.node_left.tolist(),
        forest.node_right.tolist(),
    )
    for kind, left, right in nodes:
        if kind == LEAF:
            leaf = forest.leaves[left]
            values.append(evaluate_leaf(leaf, event.get(names[leaf.attr_index])))
        elif kind == AND:
            values.append(min(values[left], values[right]))
        else:
            values.append(max(values[left], values[right]))
    return sorted(
        sub
        for sub, root in zip(forest.sub_ids.tolist(), forest.sub_roots.tolist())
        if values[root] == TRUE
    )


_SCALAR_KINDS = {
    AttributeKind.BOOLEAN: bool,
    AttributeKind.INTEGER: int,
    AttributeKind.STRING: str,
}


def normalize_event(attributes: AttributeTable, event: dict) -> dict:
    """Type-check and normalize one event against the schema, mirroring
    EventBuilder (src/events.rs:41-180): unknown attributes rejected,
    wrong types rejected, list values sorted + deduplicated
    (src/events.rs:125-158). Missing attributes stay Undefined/None."""
    normalized: dict = {}
    for name, value in event.items():
        kind = attributes.kind_of(name)  # raises NonExistingAttribute
        if value is None:
            normalized[name] = None
            continue
        if kind in _SCALAR_KINDS:
            expected = _SCALAR_KINDS[kind]
            if not isinstance(value, expected) or (
                expected is int and isinstance(value, bool)
            ):
                raise WrongType(f"attribute {name!r} expects {kind.value}")
            normalized[name] = value
        elif kind is AttributeKind.FLOAT:
            from decimal import ROUND_HALF_UP, Decimal

            if not isinstance(value, Decimal):
                raise WrongType(f"attribute {name!r} expects an exact Decimal")
            # scale-6 contract, explicit on BOTH paths (ADVICE.md round
            # 1): the vectorized engine compares at scale 6 (matching
            # Spark decimal(28,6) HALF_UP casts), so the oracle quantizes
            # the same way instead of silently diverging on finer events.
            normalized[name] = value.quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        else:
            elem_type = int if kind is AttributeKind.INTEGER_LIST else str
            if not all(isinstance(v, elem_type) and not isinstance(v, bool) for v in value):
                raise WrongType(f"attribute {name!r} expects {kind.value}")
            normalized[name] = sorted(set(value))
    return normalized


class ATreeMatcher:
    """Pythonic equivalent of the reference's public API
    (src/lib.rs:5-44): new / insert / delete / search / to_graphviz —
    single-node, used as the exact oracle and for small workloads.
    """

    def __init__(self, attributes):
        self._builder = ForestBuilder(attributes)

    @property
    def attributes(self) -> AttributeTable:
        return self._builder.attributes

    def insert(self, sub_id, expression: str) -> None:
        self._builder.insert(sub_id, expression)

    def delete(self, sub_id) -> None:
        self._builder.delete(sub_id)

    def search(self, event: dict) -> list:
        forest = self._builder.compile()
        return evaluate_event(forest, normalize_event(self.attributes, event))

    def compile(self) -> CompiledForest:
        return self._builder.compile()

    def to_graphviz(self) -> str:
        return self._builder.compile().to_graphviz()
