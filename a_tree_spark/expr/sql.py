"""DSL -> ANSI SQL translation, for two consumers:

1. the "codegen" matching strategy: small subscription sets compile to
   native Catalyst Column expressions (whole-stage codegen, zero Python)
   via ``F.expr(to_sql(node, dialect="spark"))``;
2. the DuckDB oracle used by the driver's correctness gate: the same
   NNF tree renders to DuckDB SQL so every matcher query has an exact
   relational oracle.

The Kleene semantics line up 1:1 with SQL three-valued logic
(SURVEY.md §1.2): predicate over NULL -> NULL, match = expression IS
TRUE (a WHERE clause keeps only TRUE rows). Leaf-by-leaf mapping per
SURVEY.md §2.1, from /root/reference/src/predicates.rs:227-502.
"""

from __future__ import annotations

from decimal import Decimal

from .ast import NnfNode, Node, Op, Predicate


def _quote(value: str) -> str:
    return "'" + value.replace("'", "''") + "'"


def _literal(value) -> str:
    if isinstance(value, str):
        return _quote(value)
    if isinstance(value, Decimal):
        return str(value)
    return str(int(value))


def _literal_list(values: tuple) -> str:
    return ", ".join(_literal(v) for v in values)


def leaf_to_sql(predicate: Predicate, dialect: str = "spark") -> str:
    col = f'"{predicate.attr_name}"' if dialect == "duckdb" else f"`{predicate.attr_name}`"
    op = predicate.op
    operand = predicate.operand

    if op is Op.VAR:
        return col
    if op is Op.NVAR:
        return f"(NOT {col})"
    if op in (Op.EQ, Op.NE, Op.LT, Op.LE, Op.GT, Op.GE):
        symbol = {
            Op.EQ: "=", Op.NE: "<>", Op.LT: "<",
            Op.LE: "<=", Op.GT: ">", Op.GE: ">=",
        }[op]
        return f"({col} {symbol} {_literal(operand)})"
    if op is Op.IN:
        return f"({col} IN ({_literal_list(operand)}))"
    if op is Op.NOT_IN:
        return f"({col} NOT IN ({_literal_list(operand)}))"
    # A null element is never a member. Spark's arrays_overlap and
    # array_contains return NULL rather than FALSE on one, which would
    # leave `none of` and `not all of` NULL where the oracle reads TRUE,
    # so the Spark bodies drop null elements (or test them) first.
    if op in (Op.ONE_OF, Op.NONE_OF):
        if dialect == "duckdb":
            body = f"list_has_any({col}, [{_literal_list(operand)}])"
        else:
            body = (
                f"arrays_overlap(filter({col}, x -> x IS NOT NULL), "
                f"array({_literal_list(operand)}))"
            )
        return f"({body})" if op is Op.ONE_OF else f"(NOT {body})"
    if op in (Op.ALL_OF, Op.NOT_ALL_OF):
        # direction: event list ⊆ literal list (src/predicates.rs:363-367);
        # empty event list -> TRUE in both engines
        if dialect == "duckdb":
            body = f"list_has_all([{_literal_list(operand)}], {col})"
        else:
            body = (
                f"forall({col}, x -> x IS NOT NULL AND "
                f"array_contains(array({_literal_list(operand)}), x))"
            )
        return f"({body})" if op is Op.ALL_OF else f"(NOT {body})"
    if op is Op.IS_NULL:
        return f"({col} IS NULL)"
    if op is Op.IS_NOT_NULL:
        return f"({col} IS NOT NULL)"
    if op in (Op.IS_EMPTY, Op.IS_NOT_EMPTY):
        # reference behavior on an Undefined list is undefined
        # (src/predicates.rs:495-500); we define it as NULL
        if dialect == "duckdb":
            body = f"len({col}) = 0"
        else:
            body = (
                f"(CASE WHEN {col} IS NULL THEN CAST(NULL AS BOOLEAN) "
                f"ELSE size({col}) = 0 END)"
            )
        return f"({body})" if op is Op.IS_EMPTY else f"(NOT {body})"
    raise AssertionError(f"unhandled operator {op}")


def to_sql(node: NnfNode | Node, dialect: str = "spark") -> str:
    """Render a parsed (or NNF) tree as a SQL boolean expression."""
    if node.tag == "value":
        return leaf_to_sql(node.predicate, dialect)
    if node.tag == "not":
        return f"(NOT {to_sql(node.left, dialect)})"
    connective = "AND" if node.tag == "and" else "OR"
    return f"({to_sql(node.left, dialect)} {connective} {to_sql(node.right, dialect)})"


def matcher_oracle_sql(
    expressions: dict,
    attributes,
    events_table: str = "events",
    event_id_col: str = "event_id",
    dialect: str = "duckdb",
) -> str:
    """UNION ALL oracle: one SELECT per subscription, WHERE keeps only
    Kleene-TRUE rows — the relational statement of 'match = Some(true)'
    (src/atree.rs:697-706)."""
    from .parser import parse

    selects = []
    for sub_id, expression in sorted(expressions.items()):
        tree = parse(expression, attributes).optimize()
        selects.append(
            f"SELECT {event_id_col}, CAST({int(sub_id)} AS BIGINT) AS sub_id "
            f"FROM {events_table} WHERE {to_sql(tree, dialect)}"
        )
    if not selects:
        return (
            f"SELECT {event_id_col}, CAST(NULL AS BIGINT) AS sub_id "
            f"FROM {events_table} WHERE FALSE"
        )
    return "\nUNION ALL\n".join(selects)
