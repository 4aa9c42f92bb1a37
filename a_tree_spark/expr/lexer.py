"""Tokenizer for the boolean-expression DSL: the exact tier's lexer.

``parser.parse`` reads most expressions with its one-match-per-predicate
scanner and comes here only when that scanner declines, so this lexer
is the fallback and the source of every lexical and syntax error.

Behavior-matched to the reference's logos lexer
(/root/reference/src/lexer.rs:18-117):

- multi-word keywords are single tokens with exactly one space
  ("one of", "not in", "is not null", ...);
- identifiers are ``[a-zA-Z_][a-zA-Z0-9_-]*`` (hyphens legal);
- integers ``-?[0-9]+``; floats ``[0-9]+\\.[0-9]*`` (NO negative float
  literals — "-1.5" lexes as Integer(-1) then an invalid "." token);
- strings are single- or double-quoted with backslash escapes kept RAW;
  the value is the slice with leading/trailing quote characters stripped
  (``trim_matches(['\\'', '"'])``, src/lexer.rs:72);
- longest match wins; on a length tie a keyword beats an identifier
  (the reference gets this via a post-lex fixup for "not",
  src/lexer.rs:108-113);
- ``true``/``false`` lex as boolean literals but no grammar production
  consumes them (src/grammar.lalrpop has no rule using "boolean").
"""

from __future__ import annotations

import re
from decimal import Decimal
from typing import NamedTuple

from .errors import LexicalError


class Token(NamedTuple):
    # NamedTuple, not frozen dataclass: construction is ~4x cheaper and
    # 1e5-expression forests create ~1e7 tokens on the compile path
    kind: str
    value: object
    pos: int


# Literal keywords/operators, matched longest-first. Multi-word keywords
# use exactly one space, as in the reference's #[token(...)] literals.
_KEYWORDS: list[tuple[str, str]] = sorted(
    [
        ("is not empty", "IS_NOT_EMPTY"),
        ("is not null", "IS_NOT_NULL"),
        ("is empty", "IS_EMPTY"),
        ("is null", "IS_NULL"),
        ("not in", "NOT_IN"),
        ("one of", "ONE_OF"),
        ("none of", "NONE_OF"),
        ("all of", "ALL_OF"),
        ("and", "AND"),
        ("&&", "AND"),
        ("or", "OR"),
        ("||", "OR"),
        ("not", "NOT"),
        ("!", "NOT"),
        ("in", "IN"),
        ("true", "BOOLEAN"),
        ("false", "BOOLEAN"),
        ("<=", "LE"),
        (">=", "GE"),
        ("<>", "NE"),
        ("<", "LT"),
        (">", "GT"),
        ("=", "EQ"),
        ("(", "LPAREN"),
        (")", "RPAREN"),
        ("[", "LBRACKET"),
        ("]", "RBRACKET"),
        (",", "COMMA"),
    ],
    key=lambda kv: -len(kv[0]),
)

# Single master regex (compile-path hot loop — 1e5-expression forests
# lex ~1e7 tokens; one C-level match per token replaced a ~4-candidate
# python loop, ~3x). Alternation order encodes the same semantics the
# candidate loop had, pinned by the 30 ported lexer tests:
# - multi-word keywords are unguarded (they beat their prefix identifier
#   on length, e.g. "is nullable" -> IS_NULL + IDENT "able");
# - single-word alphabetic keywords carry a negative lookahead so a
#   LONGER identifier wins ("android" -> IDENT, not AND + IDENT);
# - FLOAT before INT gives longest-match between them; FLOAT has no
#   sign, so "-1.5" lexes Integer(-1) then an invalid "." (reference
#   lexer quirk, src/lexer.rs).
_KW_KIND = {literal: kind for literal, kind in _KEYWORDS}
_MASTER_RE = re.compile(
    r"(?P<WS>[ \t\n\r\f]+)"
    r"|(?P<KW>is not empty|is not null|is empty|is null"
    r"|not in|one of|none of|all of"
    r"|(?:and|or|not|in|true|false)(?![a-zA-Z0-9_-]))"
    r"|(?P<OP>&&|\|\||<=|>=|<>|[!<>=()\[\],])"
    r"|(?P<IDENT>[a-zA-Z_][a-zA-Z0-9_-]*)"
    r"|(?P<FLOAT>[0-9]+\.[0-9]*)"
    r"|(?P<INT>-?[0-9]+)"
    r"|(?P<STRING>\"(?:\\.|[^\"\\])*\"|'(?:\\.|[^'\\])*')"
)


def lex(text: str) -> list[Token]:
    pos = 0
    n = len(text)
    match = _MASTER_RE.match
    kw_kind = _KW_KIND
    token = Token
    out: list[Token] = []
    append = out.append
    while pos < n:
        m = match(text, pos)
        if m is None:
            raise LexicalError(f"invalid token at position {pos}: {text[pos:pos+10]!r}")
        kind = m.lastgroup
        value = m.group()
        if kind == "WS":
            pos = m.end()
            continue
        if kind == "KW" or kind == "OP":
            kind = kw_kind[value]
            if kind == "BOOLEAN":
                value = value == "true"
        elif kind == "INT":
            kind = "INTEGER"
            value = int(value)
        elif kind == "FLOAT":
            value = Decimal(value)
        elif kind == "STRING":
            # Reference trims *all* leading/trailing quote chars and
            # keeps escape sequences raw (src/lexer.rs:72, test :319-332)
            value = value.strip("'\"")
        append(token(kind, value, pos))
        pos = m.end()
    return out
