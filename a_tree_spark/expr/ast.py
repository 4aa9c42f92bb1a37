"""AST, typed predicates, NNF rewrite.

Reference parity:
- predicate kinds + negation closure: /root/reference/src/predicates.rs:133-205
- NNF ("zero suppression filter", De Morgan): /root/reference/src/ast.rs:68-98

The reference also hashes each subtree to a commutative 64-bit id for CSE
(src/ast.rs:30-54) and scores it with a cost model (src/ast.rs:55-66) to
order children cheap-first. Neither lives here: ``compiler.ForestBuilder``
identifies a node by ``(op, child, child)`` once its children are shared,
and ``Predicate.key()`` is a leaf's identity; the dense sweep never
short-circuits, so child order is unused.
"""

from __future__ import annotations

import enum
from dataclasses import dataclass
from decimal import Decimal
from typing import NamedTuple, Union

from .errors import MismatchingTypes
from .schema import AttributeKind, AttributeTable


class Op(enum.Enum):
    """Leaf predicate operators (reference PredicateKind flattened)."""

    VAR = "var"                      # bare boolean attribute
    NVAR = "nvar"                    # negated boolean attribute (NNF image)
    EQ = "eq"
    NE = "ne"
    LT = "lt"
    LE = "le"
    GT = "gt"
    GE = "ge"
    IN = "in"                        # scalar ∈ literal list
    NOT_IN = "not_in"
    ONE_OF = "one_of"                # event list ∩ literal list ≠ ∅
    NONE_OF = "none_of"
    ALL_OF = "all_of"                # event list ⊆ literal list
    NOT_ALL_OF = "not_all_of"        # internal, NNF image of ALL_OF
    IS_NULL = "is_null"
    IS_NOT_NULL = "is_not_null"
    IS_EMPTY = "is_empty"
    IS_NOT_EMPTY = "is_not_empty"


# NNF negation closure (reference src/predicates.rs:171-204)
_NEGATION: dict[Op, Op] = {
    Op.VAR: Op.NVAR, Op.NVAR: Op.VAR,
    Op.EQ: Op.NE, Op.NE: Op.EQ,
    Op.LT: Op.GE, Op.GE: Op.LT,
    Op.LE: Op.GT, Op.GT: Op.LE,
    Op.IN: Op.NOT_IN, Op.NOT_IN: Op.IN,
    Op.ONE_OF: Op.NONE_OF, Op.NONE_OF: Op.ONE_OF,
    Op.ALL_OF: Op.NOT_ALL_OF, Op.NOT_ALL_OF: Op.ALL_OF,
    Op.IS_NULL: Op.IS_NOT_NULL, Op.IS_NOT_NULL: Op.IS_NULL,
    Op.IS_EMPTY: Op.IS_NOT_EMPTY, Op.IS_NOT_EMPTY: Op.IS_EMPTY,
}

_COMPARISON_OPS = (Op.LT, Op.LE, Op.GT, Op.GE)
_EQUALITY_OPS = (Op.EQ, Op.NE)
_SET_OPS = (Op.IN, Op.NOT_IN)
_LIST_OPS = (Op.ONE_OF, Op.NONE_OF, Op.ALL_OF, Op.NOT_ALL_OF)
_NULL_OPS = (Op.IS_NULL, Op.IS_NOT_NULL)
_EMPTY_OPS = (Op.IS_EMPTY, Op.IS_NOT_EMPTY)

Operand = Union[None, bool, int, Decimal, str, tuple]


@dataclass(frozen=True)
class Predicate:
    """A typed leaf predicate bound to an attribute.

    ``operand`` is None (var/null ops), int, Decimal, str, or a sorted +
    deduplicated tuple of int/str (list literals are normalized at parse,
    reference src/grammar.lalrpop:237-244).
    """

    attr_index: int
    attr_name: str
    attr_kind: AttributeKind
    op: Op
    operand: Operand = None

    def negate(self) -> "Predicate":
        return Predicate(
            self.attr_index, self.attr_name, self.attr_kind,
            _NEGATION[self.op], self.operand,
        )

    def key(self) -> tuple:
        """CSE identity (reference hashes (AttributeId, PredicateKind),
        src/predicates.rs:37-42)."""
        operand = self.operand
        if isinstance(operand, Decimal):
            # normalize 5.00 vs 5.0 to one key
            operand = ("dec", str(operand.normalize()))
        return (self.attr_index, self.op.value, operand)


def validate_predicate(name: str, kind: AttributeKind, op: Op, operand: Operand) -> None:
    """Strict type validation — no int<->float coercion
    (reference validate_predicate, src/predicates.rs:86-130)."""

    def fail() -> None:
        raise MismatchingTypes(
            f"operator {op.value!r} with operand {operand!r} is invalid "
            f"for attribute {name!r} of type {kind.value}"
        )

    if op in (Op.VAR, Op.NVAR):
        if kind is not AttributeKind.BOOLEAN:
            fail()
    elif op in _COMPARISON_OPS:
        if isinstance(operand, bool) or not isinstance(operand, (int, Decimal)):
            fail()
        if isinstance(operand, int) and kind is not AttributeKind.INTEGER:
            fail()
        if isinstance(operand, Decimal) and kind is not AttributeKind.FLOAT:
            fail()
    elif op in _EQUALITY_OPS:
        if isinstance(operand, bool):
            fail()
        if isinstance(operand, int) and kind is not AttributeKind.INTEGER:
            fail()
        elif isinstance(operand, Decimal) and kind is not AttributeKind.FLOAT:
            fail()
        elif isinstance(operand, str) and kind is not AttributeKind.STRING:
            fail()
        elif not isinstance(operand, (int, Decimal, str)):
            fail()
    elif op in _SET_OPS:
        if not isinstance(operand, tuple) or not operand:
            fail()
        elem_is_int = isinstance(operand[0], int)
        if elem_is_int and kind is not AttributeKind.INTEGER:
            fail()
        if not elem_is_int and kind is not AttributeKind.STRING:
            fail()
    elif op in _LIST_OPS:
        if not isinstance(operand, tuple) or not operand:
            fail()
        elem_is_int = isinstance(operand[0], int)
        if elem_is_int and kind is not AttributeKind.INTEGER_LIST:
            fail()
        if not elem_is_int and kind is not AttributeKind.STRING_LIST:
            fail()
    elif op in _NULL_OPS:
        if kind.is_list:
            fail()
    elif op in _EMPTY_OPS:
        if not kind.is_list:
            fail()


def make_predicate(
    attributes: AttributeTable, name: str, op: Op, operand: Operand = None
) -> Predicate:
    # Per-table memo: templated workloads repeat leaves heavily (3k
    # distinct across 1e5 subscriptions), and Predicate construction +
    # validation was ~12% of a full compile. Predicate is frozen, so
    # sharing instances is safe; DSL operands are always hashable. The
    # key carries the operand's type (a tuple's, its element type): 1,
    # True and Decimal('1.0') are equal keys, and each must be validated.
    cache = attributes.__dict__.setdefault("_predicate_cache", {})
    typed = type(operand)
    if typed is tuple and operand:
        typed = (tuple, type(operand[0]))
    key = (name, op, typed, operand)
    predicate = cache.get(key)
    if predicate is None:
        index = attributes.index_of(name)
        kind = attributes.kind_of(name)
        validate_predicate(name, kind, op, operand)
        predicate = cache[key] = Predicate(index, name, kind, op, operand)
    return predicate


# ---------------------------------------------------------------------------
# AST (with NOT) and NNF tree (NOT-free)
# ---------------------------------------------------------------------------


class Node(NamedTuple):
    """Parser output: And/Or/Not/Value tree (reference src/ast.rs:7-13).

    NamedTuple (not frozen dataclass): a 1e5-expression compile builds
    ~1e6 nodes and frozen-dataclass __init__ is ~4x the cost."""

    tag: str  # "and" | "or" | "not" | "value"
    left: "Node | None" = None
    right: "Node | None" = None
    predicate: Predicate | None = None

    @staticmethod
    def and_(left: "Node", right: "Node") -> "Node":
        return Node("and", left, right)

    @staticmethod
    def or_(left: "Node", right: "Node") -> "Node":
        return Node("or", left, right)

    @staticmethod
    def not_(child: "Node") -> "Node":
        return Node("not", child)

    @staticmethod
    def value(predicate: Predicate) -> "Node":
        return Node("value", predicate=predicate)

    def optimize(self) -> "NnfNode":
        """NNF rewrite — the reference's "zero suppression filter"
        (src/ast.rs:71-98): push NOT down via De Morgan, flip leaves
        through the negation closure."""
        return _zero_suppression(self, False)


def _zero_suppression(node: Node, negate: bool) -> "NnfNode":
    if node.tag == "and":
        tag = "or" if negate else "and"
        return NnfNode(tag, _zero_suppression(node.left, negate),
                       _zero_suppression(node.right, negate))
    if node.tag == "or":
        tag = "and" if negate else "or"
        return NnfNode(tag, _zero_suppression(node.left, negate),
                       _zero_suppression(node.right, negate))
    if node.tag == "not":
        return _zero_suppression(node.left, not negate)
    predicate = node.predicate.negate() if negate else node.predicate
    return NnfNode("value", predicate=predicate)


class NnfNode(NamedTuple):
    """NOT-free tree (reference OptimizedNode, src/ast.rs:16-20)."""

    tag: str  # "and" | "or" | "value"
    left: "NnfNode | None" = None
    right: "NnfNode | None" = None
    predicate: Predicate | None = None
