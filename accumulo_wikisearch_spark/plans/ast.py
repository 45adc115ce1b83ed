"""Query AST for the JEXL-subset boolean language.

The reference parses Apache Commons JEXL 2 expressions
(``query/.../parser/QueryParser.java:89-845``) into an AST plus a
field→term multimap. We model the same surface
(``AbstractQueryLogic.java:88-95``): ``== != < <= > >= =~ !~ and or not``,
parentheses, ``f:between(field, lo, hi)``, ``f:abs(field)``, string/number
literals, and unfielded quoted terms.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Union

# Comparison operators, as in JexlOperatorConstants.java:44-87
EQ, NE, LT, LE, GT, GE, MATCH, NMATCH = "==", "!=", "<", "<=", ">", ">=", "=~", "!~"
NEGATED_OPS = {NE, NMATCH}  # never index-driven (QueryParser.java:491-514)


@dataclass(frozen=True)
class Cmp:
    """``FIELD op literal``; ``abs=True`` wraps the field in f:abs()."""

    field: str
    op: str
    literal: Union[str, float, int]
    abs: bool = False


@dataclass(frozen=True)
class Between:
    """``f:between(FIELD, lo, hi)`` — numeric (QueryFunctions.java:26-46)."""

    field: str
    lo: float
    hi: float


@dataclass(frozen=True)
class Term:
    """Unfielded quoted term — searched across all fields it occurs in
    (AbstractQueryLogic.java:601-633)."""

    value: str


@dataclass(frozen=True)
class Not:
    child: "Node"


@dataclass(frozen=True)
class And:
    children: tuple["Node", ...]


@dataclass(frozen=True)
class Or:
    children: tuple["Node", ...]


Node = Union[Cmp, Between, Term, Not, And, Or]


def walk(node: Node):
    yield node
    if isinstance(node, (And, Or)):
        for c in node.children:
            yield from walk(c)
    elif isinstance(node, Not):
        yield from walk(node.child)


def fields_of(node: Node) -> set[str]:
    out = set()
    for n in walk(node):
        if isinstance(n, (Cmp, Between)):
            out.add(n.field)
    return out
