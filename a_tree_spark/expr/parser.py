"""Recursive-descent parser for the boolean-expression DSL.

Grammar matched to the reference LALRPOP grammar
(/root/reference/src/grammar.lalrpop:15-254):

- ``and`` and ``or`` share ONE precedence level, left-associative —
  ``a and b or c and d`` parses as ``((a and b) or c) and d``
  (proven by reference test src/parser.rs:837-916);
- ``not`` binds looser than comparisons: ``not x > 2`` == ``not (x > 2)``
  (src/parser.rs:809-824) but tighter than and/or
  (``a and not b`` == ``a and (not b)``, src/atree.rs:895);
- reversed operands are normalized at parse: ``15 < price`` => ``price > 15``
  (src/grammar.lalrpop:85-112), ``1 = x`` => ``x = 1`` (:135-148);
- literal lists accept ``[..]`` or ``(..)`` and are sorted + deduplicated
  (src/grammar.lalrpop:237-244); empty lists are a parse error
  (src/parser.rs:311-319,621-629);
- attribute names resolve against the schema DURING parsing, so unknown
  attributes / type mismatches are parse-time errors.

Divergence from the reference (deliberate, documented): the reference
compares interned StringIds, whose ordering can disagree with string
ordering when expressions share literals (src/strings.rs:4-40) — a latent
bug in sorted-merge membership. We compare actual string values, which
matches the reference on its entire test suite and fixes the edge case.

Two tiers. ``parse`` first runs a scanner that reads each whole
``attr op literal`` predicate, plus the ``not``/``!``/``(`` before it and
the ``)``/``and``/``or`` after it, in one match of one compiled regex; a
``[..]`` list body takes one ``fullmatch`` and one ``findall``. It builds
the same ``Node`` tree through ``make_predicate``. On any doubt it
declines and ``parse`` runs the exact tier, ``lex`` + ``_Parser``,
unchanged, so every error (class, message, position) comes from the
exact tier. The scanner declines on:

- a multi-word keyword at an operand position (the lexer matches
  ``not in``, ``is null``, ... unguarded, so ``not inx`` is NOT_IN);
- an attribute name that is a keyword word (``_KEYWORD_WORDS``);
- a literal or null-op that runs on into an identifier character
  (``= 30abc``, ``is nullable``);
- a ``(..)`` list, a reversed comparison, a float in a list, or a
  mixed, empty or trailing-comma list;
- a string containing a quote or backslash (the lexer's
  ``strip("'\"")`` semantics apply there);
- any exception, ``MismatchingTypes`` and unknown attributes included.

The scanner keeps its parentheses on an explicit stack, so nesting
deeper than Python's recursion limit parses on the scanner tier where
the exact tier would raise ``RecursionError``.
"""

from __future__ import annotations

import re
from decimal import Decimal

from .ast import Node, Op, make_predicate
from .errors import EmptyListError, ParserError
from .lexer import Token, lex
from .schema import AttributeTable

_CMP_TOKEN_TO_OP = {"LT": Op.LT, "LE": Op.LE, "GT": Op.GT, "GE": Op.GE}
_CMP_FLIP = {Op.LT: Op.GT, Op.LE: Op.GE, Op.GT: Op.LT, Op.GE: Op.LE}
_EQ_TOKEN_TO_OP = {"EQ": Op.EQ, "NE": Op.NE}
_LISTY_TOKEN_TO_OP = {
    "IN": Op.IN,
    "NOT_IN": Op.NOT_IN,
    "ONE_OF": Op.ONE_OF,
    "NONE_OF": Op.NONE_OF,
    "ALL_OF": Op.ALL_OF,
}
_NULLY_TOKEN_TO_OP = {
    "IS_NULL": Op.IS_NULL,
    "IS_NOT_NULL": Op.IS_NOT_NULL,
    "IS_EMPTY": Op.IS_EMPTY,
    "IS_NOT_EMPTY": Op.IS_NOT_EMPTY,
}


class _Parser:
    def __init__(self, tokens: list[Token], attributes: AttributeTable):
        self.tokens = tokens
        self.attributes = attributes
        self.pos = 0
        self.n = len(tokens)  # hot loop: peek/next run ~10x per token

    def peek(self) -> Token | None:
        pos = self.pos
        return self.tokens[pos] if pos < self.n else None

    def next(self) -> Token:
        pos = self.pos
        if pos >= self.n:
            raise ParserError("unexpected end of expression")
        self.pos = pos + 1
        return self.tokens[pos]

    def expect(self, kind: str) -> Token:
        token = self.next()
        if token.kind != kind:
            raise ParserError(
                f"expected {kind} at position {token.pos}, got {token.kind} "
                f"({token.value!r})"
            )
        return token

    # expr := unary (("and" | "or") unary)*   — flat, left-assoc
    def expression(self) -> Node:
        node = self.unary()
        while True:
            token = self.peek()
            if token is None or token.kind not in ("AND", "OR"):
                return node
            self.next()
            right = self.unary()
            node = Node.and_(node, right) if token.kind == "AND" else Node.or_(node, right)

    # unary := "not" unary | primary
    def unary(self) -> Node:
        token = self.peek()
        if token is not None and token.kind == "NOT":
            self.next()
            return Node.not_(self.unary())
        return self.primary()

    def primary(self) -> Node:
        token = self.peek()
        if token is None:
            raise ParserError("unexpected end of expression")

        if token.kind == "LPAREN":
            # Either a parenthesized sub-expression or a (..)-style list
            # used nowhere at primary position — the grammar only allows
            # expressions here.
            self.next()
            node = self.expression()
            self.expect("RPAREN")
            return node

        if token.kind in ("INTEGER", "FLOAT", "STRING"):
            return self.reversed_predicate()

        if token.kind == "IDENT":
            return self.identifier_predicate()

        raise ParserError(
            f"unexpected token {token.kind} ({token.value!r}) at position {token.pos}"
        )

    def identifier_predicate(self) -> Node:
        name = self.next().value
        token = self.peek()

        if token is not None and token.kind in _CMP_TOKEN_TO_OP:
            self.next()
            operand = self.numeric_value()
            return Node.value(
                make_predicate(self.attributes, name, _CMP_TOKEN_TO_OP[token.kind], operand)
            )

        if token is not None and token.kind in _EQ_TOKEN_TO_OP:
            self.next()
            operand = self.primitive_literal()
            return Node.value(
                make_predicate(self.attributes, name, _EQ_TOKEN_TO_OP[token.kind], operand)
            )

        if token is not None and token.kind in _LISTY_TOKEN_TO_OP:
            self.next()
            values = self.list_literal()
            return Node.value(
                make_predicate(self.attributes, name, _LISTY_TOKEN_TO_OP[token.kind], values)
            )

        if token is not None and token.kind in _NULLY_TOKEN_TO_OP:
            self.next()
            return Node.value(
                make_predicate(self.attributes, name, _NULLY_TOKEN_TO_OP[token.kind])
            )

        # bare boolean variable
        return Node.value(make_predicate(self.attributes, name, Op.VAR))

    def reversed_predicate(self) -> Node:
        """``15 < price`` / ``1 = exchange_id`` — literal on the left;
        normalized by flipping (src/grammar.lalrpop:85-148)."""
        literal_token = self.next()
        operand = literal_token.value
        if literal_token.kind == "STRING":
            # Strings are only legal in (reversed) equality.
            op_token = self.next()
            if op_token.kind not in _EQ_TOKEN_TO_OP:
                raise ParserError(
                    f"unexpected token {op_token.kind} after string literal"
                )
            name = self.expect("IDENT").value
            return Node.value(
                make_predicate(self.attributes, name, _EQ_TOKEN_TO_OP[op_token.kind], operand)
            )

        op_token = self.next()
        if op_token.kind in _CMP_TOKEN_TO_OP:
            name = self.expect("IDENT").value
            flipped = _CMP_FLIP[_CMP_TOKEN_TO_OP[op_token.kind]]
            return Node.value(make_predicate(self.attributes, name, flipped, operand))
        if op_token.kind in _EQ_TOKEN_TO_OP:
            name = self.expect("IDENT").value
            return Node.value(
                make_predicate(self.attributes, name, _EQ_TOKEN_TO_OP[op_token.kind], operand)
            )
        raise ParserError(
            f"unexpected token {op_token.kind} after literal at position {op_token.pos}"
        )

    def numeric_value(self) -> int | Decimal:
        token = self.next()
        if token.kind == "INTEGER":
            return token.value
        if token.kind == "FLOAT":
            return token.value
        raise ParserError(
            f"expected a numeric literal at position {token.pos}, got {token.kind}"
        )

    def primitive_literal(self) -> int | Decimal | str:
        token = self.next()
        if token.kind in ("INTEGER", "FLOAT", "STRING"):
            return token.value
        raise ParserError(
            f"expected a literal at position {token.pos}, got {token.kind}"
        )

    def list_literal(self) -> tuple:
        open_token = self.next()
        if open_token.kind == "LBRACKET":
            close = "RBRACKET"
        elif open_token.kind == "LPAREN":
            close = "RPAREN"
        else:
            raise ParserError(
                f"expected a list literal at position {open_token.pos}"
            )
        values: list = []
        elem_kind: str | None = None
        while True:
            token = self.peek()
            if token is not None and token.kind == close and not values:
                raise EmptyListError("empty literal lists are not allowed")
            token = self.next()
            if token.kind not in ("INTEGER", "STRING"):
                raise ParserError(
                    f"expected an integer or string list element at position "
                    f"{token.pos}, got {token.kind}"
                )
            if elem_kind is None:
                elem_kind = token.kind
            elif token.kind != elem_kind:
                raise ParserError(
                    f"mixed element types in list literal at position {token.pos}"
                )
            values.append(token.value)
            token = self.next()
            if token.kind == close:
                break
            if token.kind != "COMMA":
                raise ParserError(
                    f"expected ',' or '{close}' at position {token.pos}"
                )
        # sorted + deduplicated at parse (src/grammar.lalrpop:237-244)
        return tuple(sorted(set(values)))


# ---------------------------------------------------------------- scanner

_WS = r"[ \t\n\r\f]*"  # the lexer's whitespace class, not \s
_NO_IDENT = r"(?![a-zA-Z0-9_-])"
_STR = r"'[^'\"\\]*'|\"[^'\"\\]*\""

# One predicate between two operand boundaries. The lookaheads pin the
# lexer's longest match. After a name, a prefix ``not`` and a joining
# ``and``/``or`` they are what keeps backtracking from splitting a token
# ("notx", "andy"). After a literal or null-op the continuation alone
# would already decline "= 30abc"; the lookahead makes "= 30and x"
# decline too, so any token running into an identifier goes exact.
_PREDICATE_RE = re.compile(
    rf"(?P<prefix>(?:{_WS}(?:not(?! in){_NO_IDENT}|!|\())*){_WS}"
    rf"(?P<name>[a-zA-Z_][a-zA-Z0-9_-]*){_NO_IDENT}{_WS}"
    r"(?:"
    rf"(?P<cmp><=|>=|<>|<|>|=){_WS}"
    r"(?:(?P<float>[0-9]+\.[0-9]*)|(?P<int>-?[0-9]+)"
    rf"|'(?P<sq>[^'\"\\]*)'|\"(?P<dq>[^'\"\\]*)\"){_NO_IDENT}"
    rf"|(?P<listy>not in|one of|none of|all of|in{_NO_IDENT}){_WS}"
    r"\[(?P<body>[^\]]*)\]"
    rf"|(?P<nully>is not empty|is not null|is empty|is null){_NO_IDENT}"
    r")?"
    rf"(?P<closes>(?:{_WS}\))*){_WS}"
    rf"(?:(?P<join>(?:and|or){_NO_IDENT}|&&|\|\|)|\Z)"
)
_PREFIX_TOKEN_RE = re.compile(r"not|!|\(")
_INT_LIST_RE = re.compile(rf"{_WS}-?[0-9]+(?:{_WS},{_WS}-?[0-9]+)*{_WS}")
_STR_LIST_RE = re.compile(rf"{_WS}(?:{_STR})(?:{_WS},{_WS}(?:{_STR}))*{_WS}")
_INT_RE = re.compile(r"-?[0-9]+")
# only run on a body _STR_LIST_RE accepted: every quote opens or closes
_STR_BODY_RE = re.compile(r"['\"]([^'\"]*)['\"]")

# Names the scanner declines: single-word keywords (never a name to the
# lexer) and the first words of multi-word ones (a name to the lexer
# only when the rest of the keyword does not follow).
_KEYWORD_WORDS = frozenset(
    ["and", "or", "not", "in", "true", "false", "is", "one", "none", "all"]
)
_OP_BY_TEXT = {
    "=": Op.EQ, "<>": Op.NE, "<": Op.LT, "<=": Op.LE, ">": Op.GT, ">=": Op.GE,
    "in": Op.IN, "not in": Op.NOT_IN, "one of": Op.ONE_OF,
    "none of": Op.NONE_OF, "all of": Op.ALL_OF,
    "is null": Op.IS_NULL, "is not null": Op.IS_NOT_NULL,
    "is empty": Op.IS_EMPTY, "is not empty": Op.IS_NOT_EMPTY,
}
_JOIN_BY_TEXT = {"and": "and", "&&": "and", "or": "or", "||": "or"}


def _list_values(body: str) -> tuple | None:
    """A ``[..]`` body as the exact tier's sorted, deduplicated tuple;
    None if it is not a non-empty list of all-integer or all-plain-string
    elements."""
    if _INT_LIST_RE.fullmatch(body):
        return tuple(sorted(set(map(int, _INT_RE.findall(body)))))
    if _STR_LIST_RE.fullmatch(body):
        return tuple(sorted(set(_STR_BODY_RE.findall(body))))
    return None


def _scan(text: str, attributes: AttributeTable) -> Node | None:
    """The scanner tier: the exact tier's tree, or None to decline."""
    match = _PREDICATE_RE.match
    stack: list[tuple] = []
    acc: Node | None = None
    join = "and"
    nots = 0
    pos = 0
    while True:
        m = match(text, pos)
        if m is None:
            return None
        prefix, name, cmp, number, integer, sq, dq, listy, body, nully, closes, joined = (
            m.groups()
        )
        if prefix:
            for token in _PREFIX_TOKEN_RE.findall(prefix):
                if token == "(":
                    stack.append((acc, join, nots))
                    acc, nots = None, 0
                else:
                    nots += 1
        if name in _KEYWORD_WORDS:
            return None

        if cmp is not None:
            if integer is not None:
                operand = int(integer)
            elif number is not None:
                operand = Decimal(number)
            elif cmp == "=" or cmp == "<>":
                operand = sq if sq is not None else dq
            else:
                return None  # the exact tier rejects a string comparison
            predicate = make_predicate(attributes, name, _OP_BY_TEXT[cmp], operand)
        elif listy is not None:
            values = _list_values(body)
            if values is None:
                return None
            predicate = make_predicate(attributes, name, _OP_BY_TEXT[listy], values)
        elif nully is not None:
            predicate = make_predicate(attributes, name, _OP_BY_TEXT[nully])
        else:
            predicate = make_predicate(attributes, name, Op.VAR)

        # fold the operand into its level; each ")" folds the closed
        # group into the level below as that level's operand
        node = Node("value", None, None, predicate)
        for _ in range(nots):
            node = Node("not", node)
        acc = node if acc is None else Node(join, acc, node)
        for _ in range(closes.count(")")):
            if not stack:
                return None
            node = acc
            acc, join, nots = stack.pop()
            for _ in range(nots):
                node = Node("not", node)
            acc = node if acc is None else Node(join, acc, node)
        nots = 0

        if joined is None:
            return None if stack else acc
        join = _JOIN_BY_TEXT[joined]
        pos = m.end()


def _parse_exact(text: str, attributes: AttributeTable) -> Node:
    """The exact tier: the reference-matched lexer and parser."""
    tokens = lex(text)
    if not tokens:
        raise ParserError("empty expression")
    parser = _Parser(tokens, attributes)
    node = parser.expression()
    trailing = parser.peek()
    if trailing is not None:
        raise ParserError(
            f"unexpected trailing token {trailing.kind} at position {trailing.pos}"
        )
    return node


def parse(text: str, attributes: AttributeTable) -> Node:
    """Parse a DSL expression against a schema. Raises ParserError /
    EventError subclasses exactly where the reference does."""
    try:
        node = _scan(text, attributes)
    except Exception:
        # not reported here: the exact tier owns every error, and raises
        # the one the reference raises at the position it raises it
        node = None
    if node is None:
        node = _parse_exact(text, attributes)
    return node
