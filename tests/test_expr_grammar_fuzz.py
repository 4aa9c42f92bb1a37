"""Differential tests of ``parse``'s two tiers.

``parse`` reads most expressions with a one-match-per-predicate scanner
and falls back to the exact tier (``lex`` + ``_Parser``) when the
scanner declines. Every string here must give the same result on both:
the same ``Node`` tree, or the same exception class and message.

- a grammar fuzzer over valid and near-valid DSL, with the lexer's
  traps (keyword-prefixed names, multi-word keywords with two spaces,
  literals running into identifiers, ``(..)``/empty/trailing-comma
  lists, reversed comparisons, quotes inside strings, tabs, newlines,
  trailing junk);
- a coverage guard: the page-subscription generators never fall back,
  so a generator or grammar edit cannot silently hand the scanner's
  gain back;
- the ``make_predicate`` memo validates every typed operand, in either
  order, on both tiers.
"""

from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from a_tree_spark.expr import (
    AttributeDefinition as A,
    AttributeTable,
    MismatchingTypes,
    Op,
    make_predicate,
)
from a_tree_spark.expr.parser import _parse_exact, _scan, parse
from a_tree_spark.web.pipeline import (
    PAGE_ATTRIBUTES,
    diverse_page_subscriptions,
    skewed_page_subscriptions,
    standing_page_subscriptions,
)

# Every attribute kind, with names that start like keywords ("android",
# "nothing", "in_x", "or-rate"), are a multi-word keyword's first word
# ("one", "all") or are a keyword ("true", "in", "not", "or"): the lexer
# never reads the last group as a name.
KEYWORD_NAMES = ["true", "in", "not", "or"]
ATTRS = AttributeTable([
    A.boolean("true"),
    A.integer("in"),
    A.boolean("not"),
    A.string("or"),
    A.boolean("private"),
    A.boolean("android"),
    A.boolean("nothing"),
    A.integer("price"),
    A.integer("in_x"),
    A.integer("one"),
    A.float("bidfloor"),
    A.float("or-rate"),
    A.string("country"),
    A.string("is_x"),
    A.integer_list("ids"),
    A.integer_list("all"),
    A.string_list("deals"),
    A.string_list("none_of_x"),
])

NAMES_BY_KIND = {
    "boolean": ["private", "android", "nothing"],
    "integer": ["price", "in_x", "one"],
    "float": ["bidfloor", "or-rate"],
    "string": ["country", "is_x"],
    "integer_list": ["ids", "all"],
    "string_list": ["deals", "none_of_x"],
}
ALL_NAMES = [
    name for names in NAMES_BY_KIND.values() for name in names
] + KEYWORD_NAMES + ["nope"]

CMP = ["=", "<>", "<", "<=", ">", ">="]
EQ = ["=", "<>"]
SCALAR_SET = ["in", "not in"]
LIST_OPS = ["one of", "none of", "all of"]
NULLY = ["is null", "is not null"]
EMPTY = ["is empty", "is not empty"]
JOINS = ["and", "or", "&&", "||"]

ints = st.integers(-20, 120).map(str)
floats = st.sampled_from(["1.5", "2.", "0.25", "10.0", "3.14159", "007.5"])
plain_strings = st.sampled_from(
    ["'US'", '"CA"', "''", "'a b'", "'x,y'", "'tok1'", '"tok2"', "'\ttab'"]
)
quoted_strings = st.sampled_from(
    ["'a\"b'", "'it\\'s'", '"say \\"hi\\""', "'a]b'", "'\\\\'", "\"'\""]
)
strings = st.one_of(plain_strings, plain_strings, quoted_strings)
any_literal = st.one_of(ints, floats, strings)

# pieces that trip a lexer or parser rule when dropped in anywhere
TRAPS = [
    "android", "nothing", "in_x", "not  in", "not in", "is nullable",
    "is  null", "30abc", "-1.5", "1.2.3", "[1,]", "[]", "(1, 2)", "[1.5]",
    "[1, 'a']", "'a\"b'", "'unterminated", "true", "false", "!", "!=",
    "&&", "||", "and", "or", "not", "(", ")", "[", "]", ",", ".", "=",
    "<>", "<=", "is", "one", "of", "none", "all", "#", "\x0b", "é",
]
SEPARATORS = [" "] * 8 + ["", "  ", "\t", "\n", "\r\n", " \f "]


@st.composite
def list_literal(draw, elements):
    shape = draw(st.sampled_from(["list"] * 8 + ["paren", "empty", "trailing", "mixed"]))
    items = draw(st.lists(elements, min_size=1, max_size=6))
    if shape == "empty":
        return ["[", "]"]
    if shape == "mixed":
        items.append(draw(any_literal))
    body = []
    for i, item in enumerate(items):
        body += [","] if i else []
        body.append(item)
    if shape == "trailing":
        body.append(",")
    if shape == "paren":
        return ["("] + body + [")"]
    return ["["] + body + ["]"]


@st.composite
def typed_predicate(draw):
    kind = draw(st.sampled_from(sorted(NAMES_BY_KIND)))
    name = draw(st.sampled_from(NAMES_BY_KIND[kind]))
    if kind == "boolean":
        return draw(st.sampled_from([[name], [name], [name, draw(st.sampled_from(NULLY))]]))
    if kind in ("integer", "float"):
        literal = ints if kind == "integer" else floats
        form = draw(st.sampled_from(["cmp"] * 3 + ["reversed", "set", "set", "null"]))
        if form == "cmp":
            return [name, draw(st.sampled_from(CMP)), draw(literal)]
        if form == "reversed":
            return [draw(literal), draw(st.sampled_from(CMP)), name]
        if form == "set":
            return [name, draw(st.sampled_from(SCALAR_SET))] + draw(list_literal(ints))
        return [name, draw(st.sampled_from(NULLY))]
    if kind == "string":
        form = draw(st.sampled_from(["eq"] * 3 + ["reversed", "set", "set", "null"]))
        if form == "eq":
            return [name, draw(st.sampled_from(EQ)), draw(strings)]
        if form == "reversed":
            return [draw(strings), draw(st.sampled_from(EQ)), name]
        if form == "set":
            return [name, draw(st.sampled_from(SCALAR_SET))] + draw(list_literal(strings))
        return [name, draw(st.sampled_from(NULLY))]
    elements = ints if kind == "integer_list" else strings
    if draw(st.integers(0, 4)) == 0:
        return [name, draw(st.sampled_from(EMPTY))]
    return [name, draw(st.sampled_from(LIST_OPS))] + draw(list_literal(elements))


@st.composite
def untyped_predicate(draw):
    """Any name, any operator, any operand shape: mostly type errors."""
    name = draw(st.sampled_from(ALL_NAMES))
    op = draw(st.sampled_from(CMP + SCALAR_SET + LIST_OPS + NULLY + EMPTY + [""]))
    if op in CMP:
        return [name, op, draw(any_literal)]
    if op in SCALAR_SET or op in LIST_OPS:
        return [name, op] + draw(list_literal(st.one_of(ints, strings, floats)))
    return [name, op] if op else [name]


@st.composite
def expression(draw, depth=0):
    pieces = []
    for i in range(draw(st.integers(1, 3))):
        if i:
            pieces.append(draw(st.sampled_from(JOINS)))
        pieces += draw(st.sampled_from([[], [], [], ["not"], ["!"], ["not", "!"]]))
        if depth < 2 and draw(st.integers(0, 4)) == 0:
            pieces += ["("] + draw(expression(depth + 1)) + [")"]
        elif draw(st.integers(0, 5)) == 0:
            pieces += draw(untyped_predicate())
        else:
            pieces += draw(typed_predicate())
    return pieces


@st.composite
def dsl_text(draw):
    pieces = draw(expression())
    mutation = draw(st.sampled_from(["none"] * 8 + ["insert", "delete", "replace", "append"]))
    if mutation == "insert":
        at = draw(st.integers(0, len(pieces)))
        pieces.insert(at, draw(st.sampled_from(TRAPS)))
    elif mutation == "delete" and len(pieces) > 1:
        del pieces[draw(st.integers(0, len(pieces) - 1))]
    elif mutation == "replace":
        pieces[draw(st.integers(0, len(pieces) - 1))] = draw(st.sampled_from(TRAPS))
    elif mutation == "append":
        pieces.append(draw(st.sampled_from(TRAPS)))
    text = draw(st.sampled_from(["", "", " ", "\n\t"]))
    for i, piece in enumerate(pieces):
        if i:
            text += draw(st.sampled_from(SEPARATORS))
        text += piece
    return text + draw(st.sampled_from(["", "", " ", "\t\n"]))


def outcome(parse_fn, text, attributes=ATTRS):
    try:
        return ("node", parse_fn(text, attributes))
    except Exception as exc:  # the class and message are the result
        return ("error", type(exc), str(exc))


def assert_tiers_agree(text):
    """parse() equals the exact tier; a scanner result equals it too.
    Returns whether the scanner accepted the text."""
    exact = outcome(_parse_exact, text)
    assert outcome(parse, text) == exact, text
    try:
        scanned = _scan(text, ATTRS)
    except Exception:
        scanned = None
    if scanned is not None:
        assert exact == ("node", scanned), text
    return scanned is not None


def test_grammar_fuzz_parse_equals_exact_tier():
    counts = {"texts": 0, "scanned": 0}

    @settings(
        max_examples=1500,
        derandomize=True,
        deadline=None,
        database=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(text=dsl_text())
    def check(text):
        counts["texts"] += 1
        counts["scanned"] += assert_tiers_agree(text)

    check()
    # the fuzzer must reach the scanner tier, not only the fallback
    assert counts["scanned"] > 0.15 * counts["texts"], counts


@pytest.mark.parametrize("text", [
    "android and nothing",
    "android",
    "in_x = 1",
    "not in_x = 1",
    "not  in_x = 1",
    "not inx = 1",
    "price not  in [1]",
    "price not in [1]",
    "private is nullable",
    "private is null",
    "price = 30abc",
    "price = 30and private",
    "price = -1.5",
    "price = -1",
    "ids one of [1,]",
    "ids one of []",
    "ids one of [ ]",
    "ids one of (1, 2)",
    "price in (1, 2)",
    "ids one of [1.5]",
    "ids one of [1, 'a']",
    "15 < price",
    "'US' = country",
    "country = 'a\"b'",
    "country = 'it\\'s'",
    "country in ['a]b']",
    "country = 'US\"",
    "country = ''",
    "deals all of ['x,y', \"z\"]",
    "price\t>=\n10\r\nand private",
    "price = 1 )",
    "(price = 1",
    "price = 1 and",
    "price = 1 garbage",
    "price = 1 ,",
    "",
    "   ",
    "()",
    "one = 1",
    "all one of [1]",
    "is_x = 'a'",
    "or-rate > 1.5",
    "bidfloor > 1",
    "price > 'a'",
    "price = true",
    "true",
    "in = 1",
    "not = 1",
    "or = 'a'",
    "private and not",
    "nope = 1",
    "not not (private or not (price = 1 and country <> 'x')) && !android",
    "a and b or c",
    "private&&android||nothing",
    "price >= 1. and bidfloor <> 2.50",
    "price = 1\x0b",
])
def test_lexer_traps_match_exact_tier(text):
    assert_tiers_agree(text)


@pytest.mark.parametrize("generator", [
    standing_page_subscriptions,
    skewed_page_subscriptions,
    diverse_page_subscriptions,
])
def test_generated_subscriptions_take_the_scanner_tier(generator):
    for sub_id, text in generator(2000).items():
        scanned = _scan(text, PAGE_ATTRIBUTES)
        assert scanned is not None, f"scanner declined subscription {sub_id}: {text}"
        assert scanned == _parse_exact(text, PAGE_ATTRIBUTES), text


@pytest.mark.parametrize("parse_fn", [parse, _parse_exact])
@pytest.mark.parametrize("accepted, rejected", [
    ("bidfloor = 1.0", "bidfloor = 1"),
    ("bidfloor > 2.0", "bidfloor > 2"),
    ("price = 1", "price = 1.0"),
])
def test_predicate_memo_validates_each_typed_operand(parse_fn, accepted, rejected):
    cold = AttributeTable([A.float("bidfloor"), A.integer("price"), A.integer_list("ids")])
    with pytest.raises(MismatchingTypes):
        parse_fn(rejected, cold)
    parse_fn(accepted, cold)
    with pytest.raises(MismatchingTypes):
        parse_fn(rejected, cold)

    warm = AttributeTable([A.float("bidfloor"), A.integer("price"), A.integer_list("ids")])
    parse_fn(accepted, warm)
    with pytest.raises(MismatchingTypes):
        parse_fn(rejected, warm)


@pytest.mark.parametrize("accepted, rejected", [
    (1, True),
    (1, Decimal("1.0")),
    ((1, 2), (Decimal("1"), Decimal("2"))),
])
def test_predicate_memo_keys_on_operand_type(accepted, rejected):
    table = AttributeTable([A.integer("price")])
    op = Op.IN if isinstance(accepted, tuple) else Op.EQ
    assert make_predicate(table, "price", op, accepted).operand == accepted
    with pytest.raises(MismatchingTypes):
        make_predicate(table, "price", op, rejected)
