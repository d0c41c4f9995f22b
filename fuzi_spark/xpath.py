"""XPath 1.0 engine: lexer → recursive-descent parser → AST evaluator.

A from-scratch re-creation of the query capability the reference gets from
libxml2's XPath implementation (kylehughes/Fuzi Sources/Queryable.swift:87-303).
Coverage is the full XPath 1.0 surface the reference's tests exercise:
all major axes, multi-predicates, position()/last(), the core function
library, union `|`, arithmetic/boolean operators, namespace-prefixed name
tests with document-prefix auto-registration.

Error model mirrors the reference split (Queryable.swift:195-211):
- `select()` / `evaluate()` raise XPathError (code 1207 invalid expression,
  1209 unknown function, 1219 unbound prefix) — callers that want Fuzi's
  silent `xpath()` behavior catch and return empty (see query.py).

Expressions are compiled once (`compile_xpath`) and cached per process —
an improvement over the reference, which re-compiles per call
(Queryable.swift:299); in Spark this cache lives per executor across all
Arrow batches.

Compiling also plans the expression, so a document pays only for the work
its query needs:
- Rewrite. `_plan` turns each `descendant-or-self::node()/child::T[p]`
  pair (what `//T[p]` parses to) into one `descendant::T[p]` step. If a
  predicate may read its node's position (a number, position(), last()),
  the step is marked `by_parent` and the predicates run on each parent's
  hits apart, which is exactly what the child axis gave.
- Index. `descendant::T` from the Document, or from a root element with no
  other top-level element, reads `Document.tag_index()`: tag -> elements
  in document order, built once per document on first use and dropped by
  `Element.append` / `Element.remove`. A name test whose prefix is unbound
  walks the tree instead, so 1219 is raised as before.
- No sort. A step from one context node yields its axis order, reversed
  for the reverse axes, which is document order already; only a step from
  several context nodes merges and sorts (`_sort_ns`, which first ranks a
  document whose `ord`s are not current).
- A step resolves its name test's prefix once (`_node_test`), not per node.
"""

from __future__ import annotations

import math
import re
from functools import lru_cache
from typing import Optional
from typing import Union as _TypingUnion

from .dom import (
    ATTRIBUTE_NODE,
    COMMENT_NODE,
    DOCUMENT_NODE,
    DTD_NODE,
    ELEMENT_NODE,
    PI_NODE,
    TEXT_NODE,
    Attr,
    Comment,
    Document,
    Element,
    Node,
    Text,
)
from .errors import (
    ERR_XPATH_INVALID_EXPR,
    ERR_XPATH_UNKNOWN_FUNC,
    XPathError,
)

ERR_XPATH_UNDEF_PREFIX = 1219

# implicitly bound per XML-Names / XPath 1.0 (libxml2 resolves it too)
XML_NAMESPACE = "http://www.w3.org/XML/1998/namespace"

# ---------------------------------------------------------------- lexer

_TOKEN_RE = re.compile(
    r"""
    (?P<num>\d+(?:\.\d*)?|\.\d+)
  | (?P<lit>"[^"]*"|'[^']*')
  | (?P<dslash>//)
  | (?P<dcolon>::)
  | (?P<ddot>\.\.)
  | (?P<op2>!=|<=|>=)
  | (?P<name>[^\W\d][\w.\-]*(?::\*|:[^\W\d][\w.\-]*)?|\*)
  | (?P<sym>[()\[\]@,/|+\-=<>$.])
  | (?P<ws>\s+)
""",
    re.X,
)

_NODE_TYPES = {"comment", "text", "processing-instruction", "node"}
_OPERATOR_NAMES = {"and", "or", "mod", "div"}


class Token:
    __slots__ = ("kind", "value")

    def __init__(self, kind: str, value: str):
        self.kind = kind  # num lit name op axis func ntype sym
        self.value = value

    def __repr__(self):
        return f"{self.kind}:{self.value}"


def _lex(expr: str) -> list[Token]:
    raw: list[Token] = []
    i = 0
    while i < len(expr):
        m = _TOKEN_RE.match(expr, i)
        if not m or m.end() == i:
            raise XPathError(ERR_XPATH_INVALID_EXPR, f"bad char at {i}: {expr[i:]!r}")
        i = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        raw.append(Token(kind, m.group(0)))
    # disambiguate per XPath 1.0 §3.7
    out: list[Token] = []
    for j, t in enumerate(raw):
        prev = out[-1] if out else None
        nxt = raw[j + 1] if j + 1 < len(raw) else None
        if t.kind == "name":
            preceded_by_term = prev is not None and _token_ends_operand(prev)
            if t.value == "*":
                if preceded_by_term:
                    out.append(Token("op", "*"))
                    continue
                out.append(Token("name", "*"))
                continue
            if preceded_by_term and t.value in _OPERATOR_NAMES:
                out.append(Token("op", t.value))
                continue
            if nxt is not None and nxt.kind == "dcolon":
                out.append(Token("axis", t.value))
                continue
            if nxt is not None and nxt.kind == "sym" and nxt.value == "(":
                if t.value in _NODE_TYPES:
                    out.append(Token("ntype", t.value))
                else:
                    out.append(Token("func", t.value))
                continue
            out.append(t)
        else:
            out.append(t)
    return out


def _token_ends_operand(t: Token) -> bool:
    return (
        t.kind in ("num", "lit", "name", "ddot")
        or (t.kind == "sym" and t.value in (")", "]", "."))
    )


# ---------------------------------------------------------------- AST

class _Ast:
    __slots__ = ()


class Num(_Ast):
    __slots__ = ("v",)

    def __init__(self, v):
        self.v = v


class Str(_Ast):
    __slots__ = ("v",)

    def __init__(self, v):
        self.v = v


class Var(_Ast):
    __slots__ = ("name",)

    def __init__(self, name):
        self.name = name


class BinOp(_Ast):
    __slots__ = ("op", "l", "r")

    def __init__(self, op, l, r):
        self.op, self.l, self.r = op, l, r


class Neg(_Ast):
    __slots__ = ("e",)

    def __init__(self, e):
        self.e = e


class Union(_Ast):
    __slots__ = ("parts",)

    def __init__(self, parts):
        self.parts = parts


class FuncCall(_Ast):
    __slots__ = ("name", "args")

    def __init__(self, name, args):
        self.name, self.args = name, args


class Step(_Ast):
    """One location step. `by_parent` marks a `descendant` step planned from
    `//T[p]` whose predicates read positions: they apply to the hits of each
    parent apart, as the child axis they came from would (see `_plan`)."""

    __slots__ = ("axis", "test", "preds", "by_parent")

    def __init__(self, axis, test, preds, by_parent=False):
        self.axis, self.test, self.preds = axis, test, preds
        self.by_parent = by_parent


class Path(_Ast):
    """absolute: start at document root; filter_expr: start from expr result."""

    __slots__ = ("absolute", "steps", "filter_expr", "filter_preds")

    def __init__(self, absolute, steps, filter_expr=None, filter_preds=()):
        self.absolute = absolute
        self.steps = steps
        self.filter_expr = filter_expr
        self.filter_preds = tuple(filter_preds)


# node tests: ("name", prefix, local) | ("ntype", kind, arg)
_AXES = {
    "child",
    "descendant",
    "parent",
    "ancestor",
    "following-sibling",
    "preceding-sibling",
    "following",
    "preceding",
    "attribute",
    "namespace",
    "self",
    "descendant-or-self",
    "ancestor-or-self",
}


class _Parser:
    def __init__(self, tokens: list[Token]):
        self.toks = tokens
        self.i = 0

    def peek(self) -> Optional[Token]:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> Token:
        t = self.peek()
        if t is None:
            raise XPathError(ERR_XPATH_INVALID_EXPR, "unexpected end of expression")
        self.i += 1
        return t

    def eat_sym(self, v: str) -> bool:
        t = self.peek()
        if t is not None and t.kind == "sym" and t.value == v:
            self.i += 1
            return True
        return False

    def expect_sym(self, v: str):
        if not self.eat_sym(v):
            raise XPathError(ERR_XPATH_INVALID_EXPR, f"expected {v!r} at token {self.i}")

    # expression grammar
    def parse(self) -> _Ast:
        e = self.or_expr()
        if self.peek() is not None:
            raise XPathError(ERR_XPATH_INVALID_EXPR, f"trailing tokens: {self.toks[self.i:]}")
        return e

    def or_expr(self):
        e = self.and_expr()
        while (t := self.peek()) is not None and t.kind == "op" and t.value == "or":
            self.next()
            e = BinOp("or", e, self.and_expr())
        return e

    def and_expr(self):
        e = self.eq_expr()
        while (t := self.peek()) is not None and t.kind == "op" and t.value == "and":
            self.next()
            e = BinOp("and", e, self.eq_expr())
        return e

    def eq_expr(self):
        e = self.rel_expr()
        while (t := self.peek()) is not None and (
            (t.kind == "sym" and t.value == "=") or (t.kind == "op2" and t.value == "!=")
        ):
            self.next()
            e = BinOp(t.value, e, self.rel_expr())
        return e

    def rel_expr(self):
        e = self.add_expr()
        while (t := self.peek()) is not None and (
            (t.kind == "sym" and t.value in "<>")
            or (t.kind == "op2" and t.value in ("<=", ">="))
        ):
            self.next()
            e = BinOp(t.value, e, self.add_expr())
        return e

    def add_expr(self):
        e = self.mul_expr()
        while (t := self.peek()) is not None and t.kind == "sym" and t.value in "+-":
            self.next()
            e = BinOp(t.value, e, self.mul_expr())
        return e

    def mul_expr(self):
        e = self.unary_expr()
        while (t := self.peek()) is not None and t.kind == "op" and t.value in (
            "*",
            "div",
            "mod",
        ):
            self.next()
            e = BinOp(t.value, e, self.unary_expr())
        return e

    def unary_expr(self):
        if (t := self.peek()) is not None and t.kind == "sym" and t.value == "-":
            self.next()
            return Neg(self.unary_expr())
        return self.union_expr()

    def union_expr(self):
        e = self.path_expr()
        parts = [e]
        while (t := self.peek()) is not None and t.kind == "sym" and t.value == "|":
            self.next()
            parts.append(self.path_expr())
        return parts[0] if len(parts) == 1 else Union(parts)

    def path_expr(self):
        t = self.peek()
        if t is None:
            raise XPathError(ERR_XPATH_INVALID_EXPR, "empty path expression")
        # primary-expression starts
        if (
            t.kind in ("num", "lit", "func")
            or (t.kind == "sym" and t.value in ("(", "$"))
        ):
            e = self.filter_expr()
            t2 = self.peek()
            if t2 is not None and (t2.kind == "dslash" or (t2.kind == "sym" and t2.value == "/")):
                steps = self.relative_path_after(e)
                return steps
            return e
        return self.location_path()

    def filter_expr(self):
        t = self.next()
        if t.kind == "num":
            e: _Ast = Num(float(t.value))
        elif t.kind == "lit":
            e = Str(t.value[1:-1])
        elif t.kind == "func":
            self.expect_sym("(")
            args = []
            if not self.eat_sym(")"):
                args.append(self.or_expr())
                while self.eat_sym(","):
                    args.append(self.or_expr())
                self.expect_sym(")")
            e = FuncCall(t.value, args)
        elif t.kind == "sym" and t.value == "(":
            e = self.or_expr()
            self.expect_sym(")")
        elif t.kind == "sym" and t.value == "$":
            nt = self.next()
            e = Var(nt.value)
        else:
            raise XPathError(ERR_XPATH_INVALID_EXPR, f"unexpected token {t}")
        preds = []
        while self.eat_sym("["):
            preds.append(self.or_expr())
            self.expect_sym("]")
        if preds:
            return Path(False, [], filter_expr=e, filter_preds=preds)
        return e

    def relative_path_after(self, base: _Ast) -> _Ast:
        steps: list[Step] = []
        while (t := self.peek()) is not None:
            if t.kind == "dslash":
                self.next()
                steps.append(Step("descendant-or-self", ("ntype", "node", None), []))
                steps.append(self.step())
            elif t.kind == "sym" and t.value == "/":
                self.next()
                steps.append(self.step())
            else:
                break
        return Path(False, steps, filter_expr=base)

    def location_path(self) -> _Ast:
        t = self.peek()
        steps: list[Step] = []
        absolute = False
        if t is not None and t.kind == "sym" and t.value == "/":
            absolute = True
            self.next()
            if self._at_step_start():
                steps.append(self.step())
            else:
                return Path(True, [])
        elif t is not None and t.kind == "dslash":
            absolute = True
            self.next()
            steps.append(Step("descendant-or-self", ("ntype", "node", None), []))
            steps.append(self.step())
        else:
            steps.append(self.step())
        while (t := self.peek()) is not None:
            if t.kind == "dslash":
                self.next()
                steps.append(Step("descendant-or-self", ("ntype", "node", None), []))
                steps.append(self.step())
            elif t.kind == "sym" and t.value == "/":
                self.next()
                steps.append(self.step())
            else:
                break
        return Path(absolute, steps)

    def _at_step_start(self) -> bool:
        t = self.peek()
        if t is None:
            return False
        return (
            t.kind in ("name", "axis", "ntype", "ddot")
            or (t.kind == "sym" and t.value in ("@", "."))
        )

    def step(self) -> Step:
        t = self.peek()
        if t is None:
            raise XPathError(ERR_XPATH_INVALID_EXPR, "expected step")
        if t.kind == "ddot":
            self.next()
            return Step("parent", ("ntype", "node", None), [])
        if t.kind == "sym" and t.value == ".":
            self.next()
            return Step("self", ("ntype", "node", None), [])
        axis = "child"
        if t.kind == "sym" and t.value == "@":
            self.next()
            axis = "attribute"
        elif t.kind == "axis":
            axis = t.value
            if axis not in _AXES:
                raise XPathError(ERR_XPATH_INVALID_EXPR, f"unknown axis {axis}")
            self.next()
            self.next()  # '::'
        t = self.next()
        if t.kind == "ntype":
            self.expect_sym("(")
            arg = None
            if t.value == "processing-instruction":
                a = self.peek()
                if a is not None and a.kind == "lit":
                    arg = self.next().value[1:-1]
            self.expect_sym(")")
            test = ("ntype", t.value, arg)
        elif t.kind == "name":
            v = t.value
            if v == "*":
                test = ("name", None, "*")
            elif v.endswith(":*"):
                test = ("name", v[:-2], "*")
            elif ":" in v:
                p, l = v.split(":", 1)
                test = ("name", p, l)
            else:
                test = ("name", None, v)
        else:
            raise XPathError(ERR_XPATH_INVALID_EXPR, f"bad node test {t}")
        preds = []
        while self.eat_sym("["):
            preds.append(self.or_expr())
            self.expect_sym("]")
        return Step(axis, test, preds)


@lru_cache(maxsize=4096)
def compile_xpath(expr: str) -> _Ast:
    return _plan(_Parser(_lex(expr)).parse())


# ---------------------------------------------------------------- plan

_ANY_NODE = ("ntype", "node", None)
# functions whose value is never a number: as a predicate, each one is a
# test of its own context node, whatever that node's position
_NON_NUMERIC_FUNCS = frozenset({
    "id", "local-name", "name", "namespace-uri", "string", "concat",
    "starts-with", "contains", "substring-before", "substring-after",
    "substring", "normalize-space", "translate", "boolean", "not", "true",
    "false", "lang",
})


def _subexprs(a: _Ast) -> list:
    if isinstance(a, BinOp):
        return [a.l, a.r]
    if isinstance(a, Neg):
        return [a.e]
    if isinstance(a, Union):
        return a.parts
    if isinstance(a, FuncCall):
        return a.args
    if isinstance(a, Step):
        return a.preds
    if isinstance(a, Path):
        head = [a.filter_expr] if a.filter_expr is not None else []
        return head + a.steps + list(a.filter_preds)
    return []


def _reads_position(pred: _Ast) -> bool:
    """Whether a predicate's value may depend on its node's position: a
    number is a position test, and position()/last() read it (nested
    predicates included, to stay on the safe side)."""
    if isinstance(pred, (Num, Neg, Var)):
        return True
    if isinstance(pred, BinOp) and pred.op in ("+", "-", "*", "div", "mod"):
        return True
    if isinstance(pred, FuncCall) and pred.name not in _NON_NUMERIC_FUNCS:
        return True
    todo = [pred]
    while todo:
        a = todo.pop()
        if isinstance(a, FuncCall) and a.name in ("position", "last"):
            return True
        todo.extend(_subexprs(a))
    return False


def _plan(ast: _Ast) -> _Ast:
    """Rewrite every `descendant-or-self::node()/child::T[p]` step pair
    (what `//T[p]` parses to) into one `descendant::T[p]` step. The two
    select the same nodes; when a predicate reads positions, the step is
    marked `by_parent` so the predicates still count among siblings."""
    todo = [ast]
    while todo:
        a = todo.pop()
        if isinstance(a, Path):
            steps: list[Step] = []
            for st in a.steps:
                prev = steps[-1] if steps else None
                if (
                    st.axis == "child"
                    and prev is not None
                    and prev.axis == "descendant-or-self"
                    and prev.test == _ANY_NODE
                    and not prev.preds
                ):
                    by_parent = any(_reads_position(p) for p in st.preds)
                    steps[-1] = Step("descendant", st.test, st.preds, by_parent)
                else:
                    steps.append(st)
            a.steps = steps
        todo.extend(_subexprs(a))
    return ast


# ---------------------------------------------------------------- values

XPathValue = _TypingUnion[list, float, str, bool]


def _doc_key(n: Node):
    if n.type == ATTRIBUTE_NODE:
        return (n.ord, 1, n.idx)
    return (n.ord, 0, 0)


def _sort_ns(nodes: list) -> list:
    """Deduplicate and sort into document order, ranking the document
    first if its `ord`s are not current."""
    seen = set()
    out = []
    for n in nodes:
        if id(n) not in seen:
            seen.add(id(n))
            out.append(n)
    if len(out) > 1:
        d = out[0].doc
        if d is not None and not d.ranked:
            d.assign_order()
        out.sort(key=_doc_key)
    return out


def to_string(v: XPathValue) -> str:
    if isinstance(v, list):
        return node_string(v[0]) if v else ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return _num_to_str(v)
    return v


def _num_to_str(x: float) -> str:
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "Infinity" if x > 0 else "-Infinity"
    if x == int(x) and abs(x) < 1e16:
        return str(int(x))
    s = repr(x)
    if "e" in s or "E" in s:
        # XPath 1.0 §4.2 forbids scientific notation in string(number)
        from decimal import Decimal

        s = format(Decimal(s), "f")
    return s


_XPATH_NUMBER_RE = re.compile(r"-?(\d+(\.\d*)?|\.\d+)\Z")


def to_number(v: XPathValue) -> float:
    if isinstance(v, list):
        return to_number(to_string(v))
    if isinstance(v, bool):
        return 1.0 if v else 0.0
    if isinstance(v, float):
        return v
    s = v.strip()
    # XPath 1.0 Number syntax only: no exponents, no inf/nan words, no '+'
    if not _XPATH_NUMBER_RE.match(s):
        return float("nan")
    return float(s)


def to_bool(v: XPathValue) -> bool:
    if isinstance(v, list):
        return len(v) > 0
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return bool(v) and not math.isnan(v)
    return len(v) > 0


def node_string(n: Node) -> str:
    return n.string_value


# ---------------------------------------------------------------- context


class Context:
    __slots__ = ("node", "pos", "size", "ns", "vars")

    def __init__(self, node, pos, size, ns, vars=None):
        self.node = node
        self.pos = pos
        self.size = size
        self.ns = ns  # prefix -> uri
        self.vars = vars or {}


# ---------------------------------------------------------------- axes


def _parent_of(n: Node) -> Optional[Node]:
    """The XPath parent: an attribute's owner element, a node's parent
    element, or the Document for its top-level nodes (whose `parent` is
    None in the DOM)."""
    if n.type == ATTRIBUTE_NODE:
        return n.owner
    if n.parent is not None:
        return n.parent
    d = n.doc
    if n.type != DOCUMENT_NODE and d is not None and n in d.children:
        return d
    return None


def _axis_nodes(axis: str, n: Node):
    """Yield nodes along the axis in AXIS order (reverse axes reversed)."""
    if axis == "child":
        if n.type in (ELEMENT_NODE, DOCUMENT_NODE):
            yield from n.children
    elif axis == "descendant" or axis == "descendant-or-self":
        if axis == "descendant-or-self":
            yield n
        if n.type in (ELEMENT_NODE, DOCUMENT_NODE):
            stack = list(reversed(n.children))
            while stack:
                c = stack.pop()
                yield c
                if c.type == ELEMENT_NODE:
                    stack.extend(reversed(c.children))
    elif axis == "parent":
        p = _parent_of(n)
        if p is not None:
            yield p
    elif axis == "ancestor" or axis == "ancestor-or-self":
        if axis == "ancestor-or-self":
            yield n
        p = n.owner if n.type == ATTRIBUTE_NODE else n.parent
        while p is not None:
            yield p
            p = p.parent
        if n.doc is not None and n.type != DOCUMENT_NODE:
            yield n.doc
    elif axis == "following-sibling" or axis == "preceding-sibling":
        p = _parent_of(n)
        if p is not None and n.type != ATTRIBUTE_NODE:
            sibs = p.children
            try:
                i = sibs.index(n)
            except ValueError:
                return
            if axis == "following-sibling":
                yield from sibs[i + 1 :]
            else:
                # libxml2 skips the DTD node on both reverse axes
                yield from (s for s in reversed(sibs[:i]) if s.type != DTD_NODE)
    elif axis == "following":
        cur = n.owner if n.type == ATTRIBUTE_NODE else n
        while (p := _parent_of(cur)) is not None:
            sibs = p.children
            for s in sibs[sibs.index(cur) + 1 :]:
                yield s
                if s.type == ELEMENT_NODE:
                    yield from _axis_nodes("descendant", s)
            cur = p
    elif axis == "preceding":
        cur = n.owner if n.type == ATTRIBUTE_NODE else n
        while (p := _parent_of(cur)) is not None:
            sibs = p.children
            for s in reversed(sibs[: sibs.index(cur)]):
                if s.type == DTD_NODE:
                    continue
                # reverse doc order: deepest last nodes first
                desc = list(_axis_nodes("descendant", s))
                yield from reversed(desc)
                yield s
            cur = p
    elif axis == "attribute":
        if n.type == ELEMENT_NODE:
            yield from n.attr_nodes()
    elif axis == "self":
        yield n
    elif axis == "namespace":
        return


def _attr_prefix_uri(attr: Attr, apfx) -> Optional[str]:
    """Namespace URI of an attribute's prefix ('xml' is implicitly bound)."""
    if apfx is None:
        return None
    if apfx == "xml":
        return XML_NAMESPACE
    return attr.owner.effective_nsmap().get(apfx)


_REVERSE_AXES = {"ancestor", "ancestor-or-self", "preceding", "preceding-sibling"}


def _node_test(test, axis: str, ns: dict):
    """The step's node test as one function of a node. A name test's prefix
    is resolved here, once per step; an unbound prefix raises 1219 at the
    first node of the axis's principal type, as libxml2 does."""
    kind = test[0]
    if kind == "ntype":
        k, target = test[1], test[2]
        if k == "node":
            return lambda n: True
        if k == "text":
            return lambda n: n.type == TEXT_NODE
        if k == "comment":
            return lambda n: n.type == COMMENT_NODE
        if k == "processing-instruction":
            return lambda n: n.type == PI_NODE and (target is None or n.target == target)
        return lambda n: False
    prefix, local = test[1], test[2]
    principal = ATTRIBUTE_NODE if axis == "attribute" else ELEMENT_NODE
    uri = None
    if prefix is not None:
        uri = ns.get(prefix)
        if uri is None:
            def unbound(n):
                if n.type == principal:
                    raise XPathError(ERR_XPATH_UNDEF_PREFIX, f"undefined prefix {prefix!r}")
                return False

            return unbound
    if principal == ATTRIBUTE_NODE:
        def attr_test(n):
            if n.type != ATTRIBUTE_NODE:
                return False
            name = n.local_name if prefix is not None else n.name
            if local != "*" and name.rsplit(":", 1)[-1] != local:
                return False
            if prefix is not None:
                apfx = n.name.split(":", 1)[0] if ":" in n.name else None
                return _attr_prefix_uri(n, apfx) == uri
            return ":" not in n.name or local == "*"

        return attr_test
    if local == "*":
        return lambda n: n.type == ELEMENT_NODE and (n.ns_uri or None) == uri
    return lambda n: n.type == ELEMENT_NODE and n.tag == local and (n.ns_uri or None) == uri


# ---------------------------------------------------------------- evaluator


class _Evaluator:
    def __init__(self, ns: dict, vars: Optional[dict] = None):
        self.ns = ns
        self.vars = vars or {}

    def eval(self, ast: _Ast, ctx: Context) -> XPathValue:
        m = getattr(self, "_eval_" + type(ast).__name__)
        return m(ast, ctx)

    def _eval_Num(self, a, ctx):
        return a.v

    def _eval_Str(self, a, ctx):
        return a.v

    def _eval_Var(self, a, ctx):
        if a.name not in self.vars:
            raise XPathError(ERR_XPATH_INVALID_EXPR, f"undefined variable ${a.name}")
        return self.vars[a.name]

    def _eval_Neg(self, a, ctx):
        return -to_number(self.eval(a.e, ctx))

    def _eval_Union(self, a, ctx):
        out = []
        for p in a.parts:
            v = self.eval(p, ctx)
            if not isinstance(v, list):
                raise XPathError(ERR_XPATH_INVALID_EXPR, "union of non-node-set")
            out.extend(v)
        return _sort_ns(out)

    def _eval_BinOp(self, a, ctx):
        op = a.op
        if op == "or":
            return to_bool(self.eval(a.l, ctx)) or to_bool(self.eval(a.r, ctx))
        if op == "and":
            return to_bool(self.eval(a.l, ctx)) and to_bool(self.eval(a.r, ctx))
        l = self.eval(a.l, ctx)
        r = self.eval(a.r, ctx)
        if op in ("=", "!="):
            return self._compare_eq(l, r, op)
        if op in ("<", "<=", ">", ">="):
            return self._compare_rel(l, r, op)
        ln, rn = to_number(l), to_number(r)
        if op == "+":
            return ln + rn
        if op == "-":
            return ln - rn
        if op == "*":
            return ln * rn
        if op == "div":
            if rn == 0:
                if ln == 0 or math.isnan(ln):
                    return float("nan")
                return math.copysign(float("inf"), ln) * math.copysign(1.0, rn)
            return ln / rn
        if op == "mod":
            if rn == 0 or math.isnan(ln) or math.isnan(rn) or math.isinf(ln):
                return float("nan")
            if math.isinf(rn):
                return ln
            return math.fmod(ln, rn)
        raise XPathError(ERR_XPATH_INVALID_EXPR, f"unknown operator {op}")

    def _compare_eq(self, l, r, op):
        eq = op == "="
        if isinstance(l, list) and isinstance(r, list):
            ls = [node_string(n) for n in l]
            rs = set(node_string(n) for n in r)
            if eq:
                return any(s in rs for s in ls)
            if not ls or not rs:
                return False
            if len(set(ls)) > 1 or len(rs) > 1:
                return True
            return ls[0] != next(iter(rs))
        if isinstance(l, list) or isinstance(r, list):
            ns_, other = (l, r) if isinstance(l, list) else (r, l)
            if isinstance(other, bool):
                return (to_bool(ns_) == other) == eq
            if isinstance(other, float):
                for n in ns_:
                    if eq and to_number(node_string(n)) == other:
                        return True
                    if not eq and to_number(node_string(n)) != other:
                        return True
                return False
            for n in ns_:
                if eq and node_string(n) == other:
                    return True
                if not eq and node_string(n) != other:
                    return True
            return False
        if isinstance(l, bool) or isinstance(r, bool):
            return (to_bool(l) == to_bool(r)) == eq
        if isinstance(l, float) or isinstance(r, float):
            return (to_number(l) == to_number(r)) == eq
        return (l == r) == eq

    def _compare_rel(self, l, r, op):
        import operator as _op

        f = {"<": _op.lt, "<=": _op.le, ">": _op.gt, ">=": _op.ge}[op]
        if isinstance(l, list) and isinstance(r, list):
            for a_ in l:
                for b in r:
                    if f(to_number(node_string(a_)), to_number(node_string(b))):
                        return True
            return False
        if isinstance(l, list):
            rn = to_number(r)
            return any(f(to_number(node_string(n)), rn) for n in l)
        if isinstance(r, list):
            ln = to_number(l)
            return any(f(ln, to_number(node_string(n))) for n in r)
        return f(to_number(l), to_number(r))

    def _eval_FuncCall(self, a, ctx):
        return self._call(a.name, a.args, ctx)

    def _eval_Path(self, a, ctx):
        if a.filter_expr is not None:
            base = self.eval(a.filter_expr, ctx)
            if a.filter_preds:
                if not isinstance(base, list):
                    raise XPathError(
                        ERR_XPATH_INVALID_EXPR, "predicate on non-node-set"
                    )
                base = self._apply_predicates(base, a.filter_preds)
            if not a.steps:
                return base
            if not isinstance(base, list):
                raise XPathError(ERR_XPATH_INVALID_EXPR, "path step on non-node-set")
            nodes = base
        elif a.absolute:
            root = ctx.node.doc if ctx.node.doc is not None else ctx.node
            nodes = [root]
            if not a.steps:
                return nodes
        else:
            nodes = [ctx.node]
        for st in a.steps:
            nodes = self._do_step(st, nodes)
        return nodes

    def _do_step(self, st: Step, nodes: list) -> list:
        axis, preds = st.axis, st.preds
        test = _node_test(st.test, axis, self.ns)
        each = preds if not st.by_parent else ()
        if len(nodes) == 1:
            # one context node: the axis order is document order, or its
            # reverse, so there is nothing to merge
            hits = self._axis_hits(st, test, nodes[0])
            if each:
                hits = self._apply_predicates(hits, each)
            if axis in _REVERSE_AXES:
                hits.reverse()
        else:
            hits = []
            for cn in nodes:
                cand = self._axis_hits(st, test, cn)
                if each:
                    cand = self._apply_predicates(cand, each)
                hits.extend(cand)
            hits = _sort_ns(hits)
        if st.by_parent:
            hits = self._per_parent(hits, preds)
        return hits

    def _axis_hits(self, st: Step, test, cn: Node) -> list:
        """The nodes of `st`'s axis from `cn` that pass its node test, in
        axis order. `descendant::T` from the Document, or from a root
        element with no top-level element beside it, reads the Document's
        tag index instead of walking the tree."""
        kind, prefix, local = st.test
        doc = cn.doc
        if (
            st.axis == "descendant"
            and kind == "name"
            and local != "*"
            and doc is not None
            and (prefix is None or self.ns.get(prefix) is not None)
            and (cn is doc or (cn is doc.root and _sole_element(doc, cn)))
        ):
            uri = None if prefix is None else self.ns[prefix]
            return [
                e
                for e in doc.tag_index().get(local, ())
                if e is not cn and (e.ns_uri or None) == uri
            ]
        return [n for n in _axis_nodes(st.axis, cn) if test(n)]

    def _per_parent(self, hits: list, preds) -> list:
        """`child::T[p]` over every parent of `hits` (the `descendant::T`
        hits in document order): positions count among one parent's hits."""
        groups: dict[int, list] = {}
        for n in hits:
            groups.setdefault(id(n.parent), []).append(n)
        kept = set()
        for g in groups.values():
            kept.update(map(id, self._apply_predicates(g, preds)))
        return [n for n in hits if id(n) in kept]

    def _apply_predicates(self, cand: list, preds) -> list:
        for p in preds:
            size = len(cand)
            kept = []
            for i, n in enumerate(cand):
                c = Context(n, i + 1, size, self.ns, self.vars)
                v = self.eval(p, c)
                if isinstance(v, float):
                    if v == i + 1:
                        kept.append(n)
                elif to_bool(v):
                    kept.append(n)
            cand = kept
        return cand

    # ------------------------------------------------------------ functions
    _ARITY = {
        "last": (0, 0), "position": (0, 0), "count": (1, 1), "id": (1, 1),
        "local-name": (0, 1), "name": (0, 1), "namespace-uri": (0, 1),
        "string": (0, 1), "concat": (2, 255), "starts-with": (2, 2),
        "contains": (2, 2), "substring-before": (2, 2),
        "substring-after": (2, 2), "substring": (2, 3),
        "string-length": (0, 1), "normalize-space": (0, 1),
        "translate": (3, 3), "boolean": (1, 1), "not": (1, 1),
        "true": (0, 0), "false": (0, 0), "lang": (1, 1), "number": (0, 1),
        "sum": (1, 1), "floor": (1, 1), "ceiling": (1, 1), "round": (1, 1),
    }

    def _call(self, name: str, args: list, ctx: Context) -> XPathValue:
        ev = lambda i: self.eval(args[i], ctx)
        na = len(args)
        arity = self._ARITY.get(name)
        if arity is not None and not (arity[0] <= na <= arity[1]):
            raise XPathError(
                ERR_XPATH_INVALID_EXPR, f"{name}() takes {arity[0]}..{arity[1]} args"
            )
        if name == "last":
            return float(ctx.size)
        if name == "position":
            return float(ctx.pos)
        if name == "count":
            v = ev(0)
            if not isinstance(v, list):
                raise XPathError(ERR_XPATH_INVALID_EXPR, "count() needs node-set")
            return float(len(v))
        if name == "id":
            v = ev(0)
            ids = (
                " ".join(node_string(n) for n in v) if isinstance(v, list) else to_string(v)
            ).split()
            doc = ctx.node.doc
            out = []
            if doc is not None and doc.root is not None:
                want = set(ids)
                for el in doc.root.iter_elements():
                    if el.attrs.get("id") in want:
                        out.append(el)
            return _sort_ns(out)
        if name in ("local-name", "name", "namespace-uri"):
            if na == 0:
                n = ctx.node
            else:
                v = ev(0)
                if not isinstance(v, list):
                    raise XPathError(ERR_XPATH_INVALID_EXPR, f"{name}() needs node-set")
                if not v:
                    return ""
                n = v[0]
            if name == "namespace-uri":
                if n.type == ELEMENT_NODE:
                    return n.ns_uri or ""
                if n.type == ATTRIBUTE_NODE and ":" in n.name:
                    return _attr_prefix_uri(n, n.name.split(":", 1)[0]) or ""
                return ""
            if n.type == ELEMENT_NODE:
                return n.tag if name == "local-name" else n.qname
            if n.type == ATTRIBUTE_NODE:
                return n.local_name if name == "local-name" else n.name
            if n.type == PI_NODE:
                return n.target
            return ""
        if name == "string":
            return to_string(ev(0)) if na else node_string(ctx.node)
        if name == "concat":
            return "".join(to_string(self.eval(x, ctx)) for x in args)
        if name == "starts-with":
            return to_string(ev(0)).startswith(to_string(ev(1)))
        if name == "contains":
            return to_string(ev(1)) in to_string(ev(0))
        if name == "substring-before":
            s, sub = to_string(ev(0)), to_string(ev(1))
            i = s.find(sub)
            return s[:i] if i >= 0 else ""
        if name == "substring-after":
            s, sub = to_string(ev(0)), to_string(ev(1))
            i = s.find(sub)
            return s[i + len(sub) :] if i >= 0 else ""
        if name == "substring":
            s = to_string(ev(0))
            start = to_number(ev(1))
            if math.isnan(start):
                return ""
            if math.isfinite(start):
                start = math.floor(start + 0.5)
            if na >= 3:
                length = to_number(ev(2))
                if math.isnan(length):
                    return ""
                # inf-safe: -inf start + inf length -> nan end -> empty,
                # exactly the spec's substring('12345', -1 div 0, 1 div 0)
                end = start + (
                    math.floor(length + 0.5) if math.isfinite(length) else length
                )
                if math.isnan(end):
                    return ""
            else:
                end = float("inf")
            out = []
            for pos, ch in enumerate(s, start=1):
                if pos >= start and pos < end:
                    out.append(ch)
            return "".join(out)
        if name == "string-length":
            s = to_string(ev(0)) if na else node_string(ctx.node)
            return float(len(s))
        if name == "normalize-space":
            s = to_string(ev(0)) if na else node_string(ctx.node)
            return " ".join(s.split())
        if name == "translate":
            s, f, t = to_string(ev(0)), to_string(ev(1)), to_string(ev(2))
            table = {}
            for i, ch in enumerate(f):
                if ch not in table:
                    table[ch] = t[i] if i < len(t) else None
            return "".join(
                table.get(ch, ch) for ch in s if table.get(ch, ch) is not None
            )
        if name == "boolean":
            return to_bool(ev(0))
        if name == "not":
            return not to_bool(ev(0))
        if name == "true":
            return True
        if name == "false":
            return False
        if name == "lang":
            want = to_string(ev(0)).lower()
            n = ctx.node
            while n is not None:
                if n.type == ELEMENT_NODE:
                    l = n.attrs.get("xml:lang")
                    if l is not None:
                        l = l.lower()
                        return l == want or l.startswith(want + "-")
                n = n.parent
            return False
        if name == "number":
            return to_number(ev(0)) if na else to_number(node_string(ctx.node))
        if name == "sum":
            v = ev(0)
            if not isinstance(v, list):
                raise XPathError(ERR_XPATH_INVALID_EXPR, "sum() needs node-set")
            return float(sum(to_number(node_string(n)) for n in v))
        if name == "floor":
            x = to_number(ev(0))
            if math.isnan(x) or math.isinf(x):
                return x
            return float(math.floor(x))
        if name == "ceiling":
            x = to_number(ev(0))
            if math.isnan(x) or math.isinf(x):
                return x
            return float(math.ceil(x))
        if name == "round":
            x = to_number(ev(0))
            if math.isnan(x) or math.isinf(x):
                return x
            return float(math.floor(x + 0.5))
        raise XPathError(ERR_XPATH_UNKNOWN_FUNC, f"unknown function {name}()")


# ---------------------------------------------------------------- API


def _sole_element(doc: Document, el: Element) -> bool:
    """Whether `el` is the only element at the top level of `doc`."""
    tops = [c for c in doc.children if c.type == ELEMENT_NODE]
    return len(tops) == 1 and tops[0] is el


def build_namespace_map(node: Node, doc: Document) -> dict[str, str]:
    """Reference semantics (Queryable.swift:275-294): auto-register every
    prefix declared on the context node's ancestor-or-self chain, then the
    user-registered prefixes from Document.define_prefix (user wins)."""
    ns: dict[str, str] = {"xml": XML_NAMESPACE}
    chain = []
    n = node
    while n is not None and n.type == ELEMENT_NODE:
        chain.append(n)
        n = n.parent
    for el in reversed(chain):
        for p, uri in el.nsmap.items():
            if p is not None:
                ns[p] = uri
    if doc is not None:
        ns.update(doc.namespaces)
    return ns


def select(node: Node, expr: str, extra_ns: Optional[dict] = None) -> list:
    """Evaluate an XPath returning a node-set (raises XPathError on invalid
    expressions — callers wanting Fuzi's silent empty catch it)."""
    v = evaluate(node, expr, extra_ns)
    if not isinstance(v, list):
        raise XPathError(ERR_XPATH_INVALID_EXPR, "expression is not a node-set")
    return v


def evaluate(
    node: Node,
    expr: str,
    extra_ns: Optional[dict] = None,
    variables: Optional[dict] = None,
) -> XPathValue:
    """Evaluate any XPath expression; returns node-set/str/float/bool.
    `variables` binds $name references.

    Document-level queries anchor at the ROOT ELEMENT, like the reference
    (XMLDocument.xpath delegates to root, Queryable.swift:124-126)."""
    doc = node.doc if node.doc is not None else (node if isinstance(node, Document) else None)
    if isinstance(node, Document):
        anchor = node.root if node.root is not None else node
    else:
        anchor = node
    ast = compile_xpath(expr)
    ns = build_namespace_map(anchor, doc)
    if extra_ns:
        ns.update(extra_ns)
    ev = _Evaluator(ns, variables)
    ctx = Context(anchor, 1, 1, ns, variables)
    return ev.eval(ast, ctx)
