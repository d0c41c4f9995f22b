"""Differential gate for the fused event-driven extractor.

The fast path (fuzi_spark.fastextract) must be BIT-IDENTICAL to the DOM
reference (parse → strip_boilerplate → walk) on every input: reference
fixtures, structured generators covering each rule family, and a large
randomized corpus over a tag alphabet chosen to hit the tricky
interactions (skip subtrees, captures, media, auto-close, head→body
transition, tag-soup recovery).
"""

import random

import pytest

from fuzi_spark.extract import _extract_spans_dom
from fuzi_spark.fastextract import extract_spans_html_fast


from fuzi_spark.errors import XMLError


def both(markup: str):
    # both paths raise XMLError for empty input; the public extract_spans
    # maps that to ([], 1) — compare through that contract
    try:
        fast = extract_spans_html_fast(markup)
    except XMLError:
        fast = ([], 1)
    try:
        dom = _extract_spans_dom(markup, "html")
    except XMLError:
        dom = ([], 1)
    return fast, dom


def assert_same(markup: str):
    fast, dom = both(markup)
    assert fast == dom, f"divergence on: {markup[:300]!r}\nfast={fast}\ndom={dom}"


CASES = [
    # basics
    "<html><head><title>T</title></head><body><h1>H</h1><p>body text</p></body></html>",
    "<p>no scaffold at all",
    "plain text only",
    "<body>direct body <b>bold</b> tail</body>",
    # boilerplate strip
    "<body><nav><a href='/'>x</a></nav><p>keep</p><script>drop()</script></body>",
    "<body><div><a href='/1'>one</a> <a href='/2'>two</a></div><p>content body</p></body>",
    "<body><div><a href='/1'>one</a></div></body>",
    "<body><ul><li><a href='/'>l</a></li><li><a href='/'>m</a></li><li><a href='/'>n</a></li></ul></body>",
    # media
    "<body><p>before</p><img src='x.png' alt='pic'><p>after</p></body>",
    "<body><figure><img src='f.jpg'><figcaption>cap text</figcaption></figure></body>",
    "<body><video src='v.mp4'>fallback text</video><p>next</p></body>",
    "<body><div><img src='g.png'><a href='/'>linky</a></div></body>",  # media saves div
    # headings/captions with structure inside
    "<body><h1>a<span>b</span>c</h1></body>",
    "<body><h1>a<div>block inside</div>z</h1><p>after</p></body>",
    "<body><h2>outer <h3>inner</h3> tail</h2></body>",
    "<body><h1>t<img src='i.png'></h1></body>",
    # lists incl nesting
    "<body><ul><li>one</li><li>two<ul><li>deep</li></ul></li></ul><p>para</p></body>",
    "<body><dl><dt>term</dt><dd>def</dd></dl></body>",
    # head/body implication and tag soup
    "<title>early title</title><p>implied body</p>",
    "<meta charset='x'><p>content</p>",
    "<head><title>a</title><noscript><div>ns content</div></noscript></head><p>real</p>",
    "<p>one<p>two<p>three",
    "<table><tr><td>a<td>b<tr><td>c</table>",
    "<body><p>before</body><p>after body close</p>",
    "</div><p>stray close first</p>",
    "<body><div>unclosed <span>inline",
    "<li>bare li outside list</li>",
    # title variants
    "<html><head><title>first</title><title>second</title></head><body><p>x</p></body></html>",
    "<body><title>body title inline</title><p>x</p></body>",
    "<head><div><title>nested not-title</title></div></head><p>x</p>",
    # entities, cdata-ish, comments
    "<body><p>a &amp; b &lt;c&gt;</p><!-- comment --><p>d</p></body>",
    "<body><p>1 < 2 and 3 > 2</p></body>",
    # deep
    "<body>" + "<div>" * 800 + "<p>deep</p>" + "</div>" * 800 + "</body>",
    "<body>" + "<span>" * 800 + "deep inline" + "</span>" * 800 + "</body>",
    # body-less docs: head-resident startend tags (ADVICE r1 repros) — the
    # DOM no-body fallback walks doc.root incl. head, fast path delegates
    "<style>x</style><h1/>",
    "<meta><img/>",
    "<meta><img src='i.png' alt='fig'/>",
    "<title>only a title</title>",
    "<head><title>t</title><h2/><figcaption/></head>",
    "<style>x</style><h1/><p>then body content</p>",
    "<body/>",
    "<body/><p>after dead body</p>",
]


class TestStructuredCases:
    @pytest.mark.parametrize("markup", CASES)
    def test_same(self, markup):
        assert_same(markup)

    def test_reference_fixture_web(self):
        import os

        from fuzi_spark.corpus import REFERENCE_RESOURCES

        path = os.path.join(REFERENCE_RESOURCES, "web.html")
        if os.path.exists(path):
            from fuzi_spark.xmlparser import decode_bytes

            markup = decode_bytes(open(path, "rb").read())
            assert_same(markup)


TAGS = [
    "div", "ul", "ol", "li", "p", "a", "span", "nav", "img", "table", "td",
    "tr", "section", "h1", "h2", "figure", "figcaption", "video", "iframe",
    "script", "style", "noscript", "form", "head", "body", "title", "meta",
    "br", "em", "dl", "dt", "dd", "footer", "header", "aside", "pre",
]
WORDS = ["alpha", "beta", "gamma", "x", "content", "read", "more", "click",
         "here", "&amp;", "1 < 2", "", "<!-- note -->", "<?pi data?>",
         "<script>if (a<b) { x('<div>'); }</script>",
         "<style>p > a { color: red }</style>"]


def rand_html(rng, depth=0):
    if depth > 6 or rng.random() < 0.3:
        return rng.choice(WORDS) + " "
    t = rng.choice(TAGS)
    r = rng.random()
    if t in ("img", "meta", "br"):
        return f'<{t} src="i{rng.randint(0, 9)}.png" alt="fig">' if t == "img" else f"<{t}>"
    inner = "".join(rand_html(rng, depth + 1) for _ in range(rng.randint(0, 4)))
    attrs = ' href="/x"' if t == "a" else (' src="v.mp4"' if t in ("video", "iframe") else "")
    if r < 0.08:
        return f"<{t}{attrs}>{inner}"  # unclosed (recovery)
    if r < 0.12:
        return f"<{t}{attrs}/>{inner}"  # self-closing + trailing
    return f"<{t}{attrs}>{inner}</{t}>"


class TestRandomDifferential:
    @pytest.mark.parametrize("seed", list(range(8)) + [42, 58, 77, 99])
    def test_random_corpus(self, seed):
        rng = random.Random(seed)
        for i in range(250):
            body = "".join(rand_html(rng) for _ in range(rng.randint(1, 4)))
            page = body if rng.random() < 0.3 else f"<html><body>{body}</body></html>"
            assert_same(page)


STRAY_CLOSE_CASES = [
    # </html> pops the WHOLE DOM stack (captures, strips, media, lists);
    # later content re-parents under body; a second </html> is a no-op
    # unless a newly created <body> put html back on the stack (r2 fuzz)
    "<h3 class='c'></html>x",
    "<nav data-x></html>x",
    "<div></html>x</div>x",
    "<dt>< 21 < 2word </html>x",
    "x</html><h1 data-x>< 2ünïcödé</body>x",
    "x</html><iframe alt='fig'></body>x",
    "<header></html><h1 data-x></header>x",
    "x</html><select></html>x",
    "<br></html><tfoot alt='fig'>x</html>x",
    "x</html><caption data-x></html>< 2ünïcödé</body>",
    "x</html>< 2<textarea></html>x",
    "</html>x</html>y",
    "<head>t</html><meta>x",
    "x</html><html>y",
    # explicit <head> after </html> is never pushed (but head-only
    # ROUTING still reaches it) — text goes to body
    "x</html><head>x",
    "x</html><head>< 2</header>",
    "<li></html><head data-x>x",
    "x</html><head><title>t</title>more",
    # <head/> startendtag: an EMPTY first head element — doc.title is
    # dead forever, even for later real <title>s
    "<head src='i.png'/><title>x<hr>",
    "<head/><style src='v.mp4'></style>< 2<title class='c'>x<h3 data-x>",
    "<head/><head><title>t</title></head><p>x</p>",
    "<p>x</p><head/>",  # nested/late empty head: plain empty element
]


class TestStrayCloseRecovery:
    @pytest.mark.parametrize("markup", STRAY_CLOSE_CASES)
    def test_same(self, markup):
        assert_same(markup)


ADV_TAGS = [
    "div", "ul", "ol", "li", "p", "a", "span", "nav", "img", "table", "td",
    "tr", "section", "h1", "h2", "h3", "figure", "figcaption", "caption",
    "video", "audio", "iframe", "object", "embed", "script", "style",
    "noscript", "form", "head", "body", "html", "title", "meta", "link",
    "base", "br", "hr", "em", "dl", "dt", "dd", "footer", "header",
    "aside", "pre", "template", "button", "select", "option", "textarea",
    "thead", "tbody", "tfoot", "th", "main",
]
ADV_WORDS = ["alpha", "x", "click here", "read more", "", "1 < 2", "&amp;",
             "a" * 90, "<!-- c -->", "<?pi?>", "\n\t ", "ünïcödé", "word "]
ADV_ATTRS = [' href="/x"', ' src="i.png"', ' alt="fig"', ' class="c"',
             ' src="v.mp4" poster="p.jpg"', " data-x"]


def adversarial_html(rng, depth=0):
    """Harsher generator than rand_html: heavy self-closing, stray closes,
    head/body/html tags at arbitrary positions — the shape of soup that
    found the r2 </html>/dead-head divergences."""
    if depth > 7 or rng.random() < 0.32:
        return rng.choice(ADV_WORDS)
    t = rng.choice(ADV_TAGS)
    r = rng.random()
    attrs = rng.choice(ADV_ATTRS) if rng.random() < 0.4 else ""
    inner = "".join(
        adversarial_html(rng, depth + 1) for _ in range(rng.randint(0, 4))
    )
    if r < 0.22:
        return f"<{t}{attrs}/>{inner}"
    if r < 0.32:
        return f"<{t}{attrs}>{inner}"
    if r < 0.40:
        return f"</{t}>{inner}"
    return f"<{t}{attrs}>{inner}</{t}>"


class TestAdversarialDifferential:
    @pytest.mark.parametrize("seed", list(range(6)) + [58, 77])
    def test_adversarial_corpus(self, seed):
        rng = random.Random(20_000 + seed)
        for i in range(250):
            page = "".join(
                adversarial_html(rng) for _ in range(rng.randint(1, 5))
            )
            assert_same(page)


class TestFallbackWiring:
    def test_extract_spans_uses_fast_and_matches(self):
        from fuzi_spark.extract import extract_spans

        page = ("<html><head><title>T</title></head><body><nav><a href='/'>n"
                "</a></nav><h1>H</h1><p>body</p><img src='i.png'></body></html>")
        assert extract_spans(page, "html") == _extract_spans_dom(page, "html")

    def test_empty_still_flags(self):
        from fuzi_spark.extract import extract_spans

        assert extract_spans("", "html") == ([], 1)
        assert extract_spans("   ", "html") == ([], 1)
