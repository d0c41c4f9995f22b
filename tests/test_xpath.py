"""XPath 1.0 engine: axes, predicates, functions, union, namespaces, errors.

Assertions transcribed from the reference's Tests/ActorHardeningTests.swift
:309-473 (axes/predicates/functions) and :682-786 (namespaces), plus
Tests/XMLTests.swift:69-89 (error codes) and
Tests/XPathFunctionResultTests.swift."""

import pytest

import fuzi_spark as fz
from fuzi_spark.errors import (
    ERR_XPATH_INVALID_EXPR,
    ERR_XPATH_UNKNOWN_FUNC,
)


@pytest.fixture
def preds_doc():
    return fz.parse_xml(
        "<root>"
        '<item id="1" category="a" priority="high">First</item>'
        '<item id="2" category="b" priority="low">Second</item>'
        '<item id="3" category="a" priority="high">Third</item>'
        "</root>"
    )


def test_multi_predicate(preds_doc):
    r = fz.xpath(preds_doc, "//item[@category='a'][@priority='high']")
    assert [e.attr("id") for e in r] == ["1", "3"]


def test_predicate_and(preds_doc):
    r = fz.xpath(preds_doc, "//item[@category='a' and @priority='high']")
    assert len(r) == 2


def test_predicate_or(preds_doc):
    r = fz.xpath(preds_doc, "//item[@category='b' or @priority='high']")
    assert len(r) == 3


def test_predicate_not(preds_doc):
    r = fz.xpath(preds_doc, "//item[not(@category='a')]")
    assert [e.attr("id") for e in r] == ["2"]


def test_position_last():
    d = fz.parse_xml("<r><i>1</i><i>2</i><i>3</i><i>4</i><i>5</i></r>")
    assert [e.string_value for e in fz.xpath(d, "//i[position()=1]")] == ["1"]
    assert [e.string_value for e in fz.xpath(d, "//i[last()]")] == ["5"]
    assert [e.string_value for e in fz.xpath(d, "//i[position()<3]")] == ["1", "2"]
    assert [e.string_value for e in fz.xpath(d, "//i[3]")] == ["3"]


def test_ancestor_axis():
    d = fz.parse_xml("<a><b><c><d>deep</d></c></b></a>")
    r = fz.xpath(d, "//d/ancestor::*")
    assert [e.tag for e in r] == ["a", "b", "c"]
    assert len(fz.xpath(d, "//d/ancestor-or-self::*")) == 4


def test_sibling_axes():
    d = fz.parse_xml("<root><a/><b/><c/><d/></root>")
    assert [e.tag for e in fz.xpath(d, "//b/following-sibling::*")] == ["c", "d"]
    assert [e.tag for e in fz.xpath(d, "//c/preceding-sibling::*")] == ["a", "b"]
    # reverse-axis position: nearest sibling first
    assert [e.tag for e in fz.xpath(d, "//c/preceding-sibling::*[1]")] == ["b"]


def test_descendant_self_parent():
    d = fz.parse_xml("<a><b><c/></b></a>")
    assert [e.tag for e in fz.xpath(d, "//b/descendant::*")] == ["c"]
    assert [e.tag for e in fz.xpath(d, "//c/parent::*")] == ["b"]
    assert [e.tag for e in fz.xpath(d, "//c/../..")] == ["a"]
    assert [e.tag for e in fz.xpath(d, "//c/self::c")] == ["c"]


def test_string_functions():
    d = fz.parse_xml("<r><s>hello world</s></r>")
    ev = lambda x: fz.eval_xpath(d, x)
    assert ev("starts-with(string(//s), 'hello')").bool_value is True
    assert ev("contains(string(//s), 'o w')").bool_value is True
    assert ev("string-length(string(//s))").double_value == 11.0
    assert ev("normalize-space('  a   b ')").string_value == "a b"
    assert ev("substring('12345', 2, 3)").string_value == "234"
    assert ev("substring-before('a-b', '-')").string_value == "a"
    assert ev("substring-after('a-b', '-')").string_value == "b"
    assert ev("translate('bar', 'abc', 'ABC')").string_value == "BAr"
    assert ev("concat('a', 'b', 'c')").string_value == "abc"


def test_numeric_functions():
    d = fz.parse_xml("<r><n>10</n><n>20</n><n>30</n></r>")
    ev = lambda x: fz.eval_xpath(d, x)
    assert ev("count(//n)").double_value == 3.0
    assert ev("sum(//n)").double_value == 60.0
    assert ev("floor(2.7)").double_value == 2.0
    assert ev("ceiling(2.2)").double_value == 3.0
    assert ev("round(2.5)").double_value == 3.0
    assert ev("10 div 4").double_value == 2.5
    assert ev("10 mod 3").double_value == 1.0


def test_boolean_ops():
    d = fz.parse_xml("<r/>")
    ev = lambda x: fz.eval_xpath(d, x)
    assert ev("true() and true()").bool_value is True
    assert ev("true() and false()").bool_value is False
    assert ev("false() or true()").bool_value is True
    assert ev("not(false())").bool_value is True
    assert ev("1 < 2").bool_value is True
    assert ev("2 <= 2").bool_value is True
    assert ev("3 != 4").bool_value is True


def test_union_document_order():
    d = fz.parse_xml("<root><a/><b/><c/><d/></root>")
    r = fz.xpath(d, "//c | //a | //b")
    assert [e.tag for e in r] == ["a", "b", "c"]


def test_union_dedup():
    d = fz.parse_xml("<root><a/></root>")
    assert len(fz.xpath(d, "//a | /root/a")) == 1


def test_invalid_expression_code_1207():
    d = fz.parse_xml("<r/>")
    assert fz.xpath(d, "////") == []  # silent empty
    with pytest.raises(fz.XPathError) as ei:
        fz.try_xpath(d, "////")
    assert ei.value.code == ERR_XPATH_INVALID_EXPR


def test_unknown_function_code_1209():
    d = fz.parse_xml("<r><x/></r>")
    with pytest.raises(fz.XPathError) as ei:
        fz.try_xpath(d, "//*[unknown()]")
    assert ei.value.code == ERR_XPATH_UNKNOWN_FUNC


def test_unbound_prefix_silent_empty():
    d = fz.parse_xml("<root><child/></root>")
    assert fz.xpath(d, "//nosuch:child") == []


def test_default_namespace_needs_prefix():
    d = fz.parse_xml('<root xmlns="http://default.ns"><child/></root>')
    assert fz.xpath(d, "//child") == []  # XPath 1.0: unprefixed = no namespace
    d.define_prefix("d", "http://default.ns")
    assert len(fz.xpath(d, "//d:child")) == 1


def test_namespace_redefinition():
    d = fz.parse_xml(
        '<root xmlns:ns="http://outer"><ns:a/>'
        '<child xmlns:ns="http://inner"><ns:b/></child></root>'
    )
    d.define_prefix("o", "http://outer")
    d.define_prefix("i", "http://inner")
    assert len(fz.xpath(d, "//o:a")) == 1
    assert len(fz.xpath(d, "//i:b")) == 1
    assert fz.xpath(d, "//o:b") == []


def test_attribute_axis():
    d = fz.parse_xml('<r><a x="1" y="2"/></r>')
    assert len(fz.xpath(d, "//a/@*")) == 2
    r = fz.xpath(d, "//a/@x")
    assert len(r) == 1 and r[0].string_value == "1"


def test_text_and_comment_nodes():
    d = fz.parse_xml("<r>text<!--comment--><e/></r>")
    assert [n.string_value for n in fz.xpath(d, "/r/text()")] == ["text"]
    assert [n.string_value for n in fz.xpath(d, "/r/comment()")] == ["comment"]
    assert len(fz.xpath(d, "/r/node()")) == 3


def test_eval_scalar_triple():
    d = fz.parse_xml("<r><n>5</n></r>")
    res = fz.eval_xpath(d, "count(//n)")
    assert res.double_value == 1.0
    assert res.bool_value is True
    assert res.string_value == "1"
    res = fz.eval_xpath(d, "string(//n)")
    assert res.string_value == "5"


def test_relative_vs_absolute_anchor():
    # document-level queries anchor at root (reference Queryable.swift:124-126)
    d = fz.parse_xml("<spec><header><title>T</title></header></spec>")
    assert len(fz.xpath(d, "/spec/header/title")) == 1
    assert len(fz.xpath(d, "./header/title")) == 1
    hdr = fz.xpath(d, "./header")[0]
    assert len(fz.xpath(hdr, "./title")) == 1


class TestTopLevelAxes:
    """The Document is the parent of its top-level nodes, so the sibling,
    following and preceding axes reach the comments and PIs beside the
    root element (XPath 1.0 §2.2; libxml2 agrees)."""

    DOC = "<!--before--><r><a/></r><!--after--><?pi x?>"

    @pytest.mark.parametrize(
        "expr, want",
        [
            ("/r/following-sibling::node()", ["<!--after-->", "<?pi x?>"]),
            ("//a/following::comment()", ["<!--after-->"]),
            ("/r/preceding-sibling::comment()", ["<!--before-->"]),
            ("//a/preceding::comment()", ["<!--before-->"]),
        ],
    )
    def test_axis_reaches_top_level(self, expr, want):
        d = fz.parse_xml(self.DOC)
        assert [n.raw_xml for n in fz.try_xpath(d, expr)] == want

    def test_reverse_axes_skip_the_dtd(self):
        d = fz.parse_xml('<!DOCTYPE r [<!ENTITY e "x">]><!--c--><r><a/></r>')
        assert [n.raw_xml for n in fz.try_xpath(d, "//a/preceding::node()")] == ["<!--c-->"]
        assert [n.raw_xml for n in fz.try_xpath(d, "/r/preceding-sibling::node()")] == [
            "<!--c-->"]


class TestPlan:
    """`compile_xpath` plans `//T` as one descendant step, read from the
    Document's tag index; every answer stays the one the walk gives."""

    def test_double_slash_is_one_descendant_step(self):
        from fuzi_spark.xpath import Path, compile_xpath

        plan = compile_xpath("//p")
        assert isinstance(plan, Path) and plan.absolute
        assert [(s.axis, s.test, s.by_parent) for s in plan.steps] == [
            ("descendant", ("name", None, "p"), False)]
        (step,) = compile_xpath("//p[2]").steps
        assert (step.axis, step.by_parent) == ("descendant", True)
        for boolean in ("//p[@a='v']", "//p[contains(., 'x')][q]"):
            (step,) = compile_xpath(boolean).steps
            assert (step.axis, step.by_parent) == ("descendant", False)
        for positional in ("//p[position()>1]", "//p[last()]", "//p[count(q)]",
                           "//p[not(position()=1)]"):
            (step,) = compile_xpath(positional).steps
            assert (step.axis, step.by_parent) == ("descendant", True), positional

    def test_positional_predicate_counts_per_parent(self):
        d = fz.parse_xml("<r><p i='1'/><s><p i='2'/><p i='3'/></s><p i='4'/></r>")
        assert [e.attr("i") for e in fz.xpath(d, "//p[2]")] == ["3", "4"]
        assert [e.attr("i") for e in fz.xpath(d, "//p[last()]")] == ["3", "4"]
        assert [e.attr("i") for e in fz.xpath(d, "//p[position()>1]")] == ["3", "4"]
        assert [e.attr("i") for e in fz.xpath(d, "(//p)[2]")] == ["2"]

    def test_mutation_drops_the_index(self):
        d = fz.parse_xml("<r><a><p/></a><b/></r>")
        assert len(fz.xpath(d, "//p")) == 1
        a = fz.xpath(d, "//a")[0]
        a.remove()
        assert fz.xpath(d, "//p") == []
        assert fz.xpath(d, "//a") == []
        b = fz.xpath(d, "//b")[0]
        b.append(fz.Element("p", d))
        b.append(a)
        assert [e.parent.tag for e in fz.xpath(d, "//p")] == ["b", "a"]
        assert len(fz.xpath(d.root, ".//a")) == 1

    def test_root_with_a_top_level_sibling_walks(self):
        # the recovering XML parser keeps a second top-level element; the
        # index covers both, a query from the root element only its own
        d = fz.parse_xml('<a><x i="1"/></a><b><x i="2"/></b>')
        assert [e.attr("i") for e in fz.xpath(d, "//x")] == ["1", "2"]
        assert [e.attr("i") for e in fz.xpath(d.root, ".//x")] == ["1"]
        assert [e.attr("i") for e in fz.css(d, "x")] == ["1"]

    def test_unbound_prefix_still_raises_1219(self):
        from fuzi_spark.xpath import ERR_XPATH_UNDEF_PREFIX

        d = fz.parse_xml("<root><child/></root>")
        for expr in ("//u:x", "//u:x[1]", ".//u:x"):
            with pytest.raises(fz.XPathError) as ei:
                fz.try_xpath(d, expr)
            assert ei.value.code == ERR_XPATH_UNDEF_PREFIX

    @pytest.mark.parametrize("parse", [fz.parse_xml, fz.parse_html])
    def test_unordered_doc_answers_the_same(self, parse):
        src = ("<r><ul><li>1<ul><li>2</li><li>3</li></ul></li><li>4</li></ul>"
               "<p class='x'>5</p><div><p>6</p></div></r>")
        exprs = ["//li", "//li[2]", "//ul/li", "//ul//li[last()]",
                 "//li/preceding-sibling::li", "//li/ancestor::ul", "//p[@class]",
                 "//*[self::p or self::li]", "//li/following::p"]
        ordered, unordered = parse(src), parse(src, assign_order=False)
        for expr in exprs:
            assert [n.raw_xml for n in fz.xpath(unordered, expr)] == [
                n.raw_xml for n in fz.xpath(ordered, expr)], expr
        for sel in ("ul li + li", "div > p", "p.x"):
            assert [n.raw_xml for n in fz.css(unordered, sel)] == [
                n.raw_xml for n in fz.css(ordered, sel)], sel


class TestReviewHardening:
    """Regression tests for engine-crash and spec-deviation findings:
    every case previously raised a non-XPathError (killing a Spark task)
    or returned a non-XPath-1.0 value."""

    def setup_method(self):
        self.d = fz.parse_xml('<root xml:lang="en"><a id="1">x</a><b/></root>')

    def ev(self, e):
        return fz.eval_xpath(self.d, e)

    def test_mod_infinity_nan(self):
        import math

        assert math.isnan(self.ev("(1 div 0) mod 2").double_value)

    def test_floor_ceiling_nan_inf(self):
        import math

        assert math.isnan(self.ev("floor(0 div 0)").double_value)
        assert self.ev("ceiling(1 div 0)").double_value == float("inf")
        assert math.isnan(self.ev("floor(number(//nosuch))").double_value)

    def test_substring_infinite_args(self):
        # XPath 1.0 spec examples
        assert self.ev("substring('12345', -42, 1 div 0)").string_value == "12345"
        assert self.ev("substring('12345', -1 div 0, 1 div 0)").string_value == ""

    def test_following_preceding_from_attribute(self):
        r = fz.xpath(self.d, "//a/@id/following::*")
        assert [e.tag for e in r] == ["b"]
        assert fz.xpath(self.d, "//b/preceding::*") == fz.xpath(self.d, "//a")

    def test_arity_errors_are_xpath_errors(self):
        for bad in ("contains('a')", "boolean()", "not()", "translate('a','b')"):
            assert fz.xpath(self.d, f"//*[{bad}]") == []
            with pytest.raises(fz.XPathError):
                fz.try_xpath(self.d, f"//*[{bad}]")

    def test_xml_prefix_implicitly_bound(self):
        r = fz.xpath(self.d, "//*[@xml:lang]")
        assert len(r) == 1 and r[0].tag == "root"
        assert self.ev("string(//@xml:lang)").string_value == "en"

    def test_number_string_no_scientific_notation(self):
        assert self.ev("string(0.00001)").string_value == "0.00001"

    def test_number_rejects_python_float_syntax(self):
        import math

        for s in ("1e5", "inf", "nan", "+5", "1_0"):
            assert math.isnan(self.ev(f"number('{s}')").double_value), s
        assert self.ev("number('-5')").double_value == -5.0
        assert self.ev("number(' 2.5 ')").double_value == 2.5

    def test_namespace_uri_of_attribute(self):
        d = fz.parse_xml('<root xmlns:p="urn:x" p:a="1"/>')
        assert fz.eval_xpath(d, "namespace-uri(//@*[1])").string_value == "urn:x"

    def test_variables_bindable(self):
        from fuzi_spark.xpath import evaluate

        assert evaluate(self.d, "$x + 1", variables={"x": 2.0}) == 3.0


class TestSpecDifferential:
    """Randomized differential against a tiny spec-literal evaluator for
    the restricted grammar /name[pred], //name[pred] and /axis::name[pred]
    (child, descendant-or-self and the parent, ancestor, sibling and
    preceding axes; positional, last(), position()>1, attribute,
    contains() and child-element predicates — applied PER CONTEXT NODE, in
    the axis's own order, as XPath 1.0 requires). Paths start at the root
    or, as `.//`, at a non-root element. Validated clean on 12k queries
    before pinning."""

    @staticmethod
    def _all_desc(node):
        from fuzi_spark.dom import ELEMENT_NODE

        out = []
        stack = [c for c in node.children if c.type == ELEMENT_NODE]
        while stack:
            c = stack.pop(0)
            out.append(c)
            stack = [k for k in c.children if k.type == ELEMENT_NODE] + stack
        return out

    @staticmethod
    def _ancestors(node):
        out = []
        while node.parent is not None:
            node = node.parent
            out.append(node)
        return out

    @classmethod
    def _axis(cls, doc, axis, cn):
        """Elements on `axis` from `cn`, nearest first."""
        from fuzi_spark.dom import ELEMENT_NODE

        if axis == "child":
            return [c for c in cn.children if c.type == ELEMENT_NODE]
        if axis == "parent":
            return [cn.parent] if cn.parent is not None else []
        if axis == "ancestor":
            return cls._ancestors(cn)
        if axis == "ancestor-or-self":
            return [cn] + cls._ancestors(cn)
        sibs = (
            [c for c in cn.parent.children if c.type == ELEMENT_NODE]
            if cn.parent is not None else [cn]
        )
        i = next(j for j, c in enumerate(sibs) if c is cn)
        if axis == "following-sibling":
            return sibs[i + 1 :]
        if axis == "preceding-sibling":
            return sibs[:i][::-1]
        assert axis == "preceding"
        anc = {id(a) for a in cls._ancestors(cn)}
        before = [e for e in cls._all_desc(doc) if e.ord < cn.ord and id(e) not in anc]
        return before[::-1]

    @classmethod
    def _ref_eval(cls, doc, path, start=None):
        import re

        from fuzi_spark.dom import ELEMENT_NODE

        steps = []
        i = 0
        ctx = [doc]
        if path.startswith("."):
            ctx = [start]
            i = 1
        while i < len(path):
            if path.startswith("//", i):
                sep = "desc"
                i += 2
            else:
                sep = "child"
                i += 1
            axis = "child"
            m = re.match(r"([a-z-]+)::", path[i:])
            if m:
                axis = m.group(1)
                i += len(m.group(0))
            m = re.match(r"([A-Za-z_][\w.-]*|\*)", path[i:])
            name = m.group(1)
            i += len(name)
            preds = []
            while i < len(path) and path[i] == "[":
                j = path.index("]", i)
                preds.append(path[i + 1 : j])
                i = j + 1
            steps.append((sep, axis, name, preds))
        for sep, axis, name, preds in steps:
            out = []
            for node in ctx:
                ctxnodes = [node] if sep == "child" else [node] + cls._all_desc(node)
                for cn in ctxnodes:
                    cands = [
                        c
                        for c in cls._axis(doc, axis, cn)
                        if c.type == ELEMENT_NODE and (name == "*" or c.tag == name)
                    ]
                    for p in preds:
                        if p == "last()":
                            cands = [cands[-1]] if cands else []
                        elif p == "position()>1":
                            cands = cands[1:]
                        elif p.isdigit():
                            k = int(p)
                            cands = [cands[k - 1]] if 1 <= k <= len(cands) else []
                        elif p.startswith("contains(@"):
                            an, av = p[len("contains(@") : -1].split(",")
                            av = av.strip("'")
                            cands = [c for c in cands if av in c.attrs.get(an, "")]
                        elif p.startswith("@"):
                            if "=" in p:
                                an, av = p[1:].split("=", 1)
                                av = av.strip("'")
                                cands = [c for c in cands if c.attrs.get(an) == av]
                            else:
                                cands = [c for c in cands if p[1:] in c.attrs]
                        else:
                            cands = [
                                c
                                for c in cands
                                if any(
                                    k.type == ELEMENT_NODE and k.tag == p
                                    for k in c.children
                                )
                            ]
                    out.extend(cands)
            seen = set()
            ctx = []
            for c in sorted(out, key=lambda n: n.ord):
                if id(c) not in seen:
                    seen.add(id(c))
                    ctx.append(c)
        return ctx

    @pytest.mark.parametrize("seed", range(5))
    def test_random_paths(self, seed):
        import random

        from fuzi_spark.query import xpath as run_xpath
        from fuzi_spark.xmlparser import parse_xml

        names = ["a", "b", "c", "d"]
        axes = ["parent", "ancestor", "ancestor-or-self", "preceding-sibling",
                "preceding", "following-sibling"]

        def gen_doc(rng, depth=0):
            name = rng.choice(names)
            attrs = ""
            if rng.random() < 0.5:
                attrs += f' k="{rng.choice(["1", "2", "v", "vv"])}"'
            if rng.random() < 0.2:
                attrs += ' m="x"'
            if depth > 4 or rng.random() < 0.3:
                return f"<{name}{attrs}>t</{name}>"
            inner = "".join(
                gen_doc(rng, depth + 1) for _ in range(rng.randint(0, 4))
            )
            return f"<{name}{attrs}>{inner}</{name}>"

        def gen_path(rng):
            steps = []
            for _ in range(rng.randint(1, 4)):
                axis = "//" if rng.random() < 0.35 else "/"
                if axis == "/" and rng.random() < 0.25:
                    axis += rng.choice(axes) + "::"
                name = rng.choice(names + ["*"])
                preds = ""
                if rng.random() < 0.4:
                    preds = rng.choice(
                        ["[1]", "[2]", "[last()]", "[@k]", "[@k='v']",
                         "[@m]", "[@m='x']", "[b]", "[c]", "[position()>1]",
                         "[contains(@k,'v')]"]
                    )
                steps.append(axis + name + preds)
            return "".join(steps)

        rng = random.Random(50_000 + seed)
        for _ in range(20):
            docstr = (
                "<root>"
                + "".join(gen_doc(rng) for _ in range(rng.randint(1, 4)))
                + "</root>"
            )
            doc = parse_xml(docstr)
            inner = self._all_desc(doc.root)
            for _ in range(25):
                path = "/root" + gen_path(rng)
                want = [id(n) for n in self._ref_eval(doc, path)]
                got = [id(n) for n in run_xpath(doc, path)]
                assert got == want, f"{path} on {docstr[:200]}"
                if inner:
                    el = rng.choice(inner)
                    path = "." + gen_path(rng)
                    want = [id(n) for n in self._ref_eval(doc, path, el)]
                    got = [id(n) for n in run_xpath(el, path)]
                    assert got == want, f"{path} from {el.raw_xml[:80]} on {docstr[:200]}"
