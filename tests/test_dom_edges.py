"""DOM edge-semantics tests: the cases where html.parser-backed trees
differ from browser/html5lib behavior — we pin the html.parser-family
behavior the reference observes through bs4."""

import random
import re

from engine import dom
from engine.dom import parse_html
from engine.kernels import general, table
from scripts.gen_goldens import _random_markup, dom_dump, mutate_markup


def test_unclosed_li_nests_like_htmlparser():
    # html.parser does NOT imply-close <li>; the second li nests inside
    # the first (bs4's html.parser backend behaves the same way)
    root = parse_html("<ul><li>a<li>b</li></li></ul>")
    ul = root.find("ul")
    top_level = ul.find_all("li", recursive=False)
    assert len(top_level) == 1
    assert len(ul.find_all("li")) == 2


def test_table_text_stays_in_place():
    # no browser-style relocation of stray text out of tables
    root = parse_html("<table>stray<tr><td>x</td></tr></table>")
    assert root.find("table").get_text() == "strayx"


def test_script_inside_body_not_parsed_as_markup():
    root = parse_html('<body><script>if (a < b) { x("<div>"); }</script></body>')
    assert root.find("div") is None
    assert root.find("script").string == 'if (a < b) { x("<div>"); }'


def test_style_cdata_mode():
    root = parse_html("<style>p > a { color: red }</style><p>t</p>")
    assert len(root.find_all("p")) == 1


def test_attribute_quoting_variants():
    root = parse_html("<div a=1 b='2' c=\"3\" d></div>")
    div = root.find("div")
    assert div["a"] == "1" and div["b"] == "2" and div["c"] == "3"
    assert div["d"] == ""


def test_uppercase_tags_and_attrs_lowercased():
    root = parse_html('<DIV CLASS="Big Top">x</DIV>')
    div = root.find("div")
    assert div["class"] == ["Big", "Top"]  # values keep case, names don't


def test_conditional_comment_dropped():
    root = parse_html("<!--[if IE]><div class='ie'></div><![endif]--><p>y</p>")
    assert root.find("div") is None
    assert root.find("p").get_text() == "y"


def test_nested_tables_row_scoping():
    html = """<table><tr><th>name</th></tr>
      <tr><td><table><tr><td>inner</td></tr></table></td></tr></table>"""
    root = parse_html(html)
    outer = root.find("table")
    # find_all('tr') from the outer table sees inner rows too — exactly
    # what the reference's table parser would see through bs4
    assert len(outer.find_all("tr")) == 3
    results = table.parse_tables(root, "x", ["name"], 0.6)
    assert results[0]["name"] == "inner"


def test_whitespace_only_class_tokens():
    root = parse_html('<div class="  a   b ">x</div>')
    assert root.find("div")["class"] == ["a", "b"]


def test_mismatched_case_end_tag():
    root = parse_html("<div><P>text</P></div>")
    assert root.find("p").get_text() == "text"


def test_input_value_extraction():
    root = parse_html('<form><input name="price" value="42"></form>')
    el = root.find("input")
    assert general.get_element_text(el) == "42"


def test_entity_edge_cases_in_text():
    root = parse_html("<p>&pound;51.77 &amp;&nbsp;&#163;5</p>")
    assert root.find("p").get_text() == "£51.77 &\xa0£5"


# --- strict tokenizer vs the installed html.parser ------------------------

# just inside the strict tokenizer's grammar
_EDGE_PAGES = [
    "<!-- a --\x0b> b --><p>c</p>", "<!--->x-->y", "<!DOCTYPE>t",
    "<p>tail &x", "<p>&#1;&nbsp;&amp</p>",
    "<SCRIPT type=x>a</Script\x0c><p>", "<style></style >",
    "<a b = 'c' d=e-f:g.h#i>x</a\n>", "<br/><br /><p/>",
    '<p class="a" class="b" x=\'&lt;\'>', "a > b"]
# just outside it
_OUT_OF_GRAMMAR_PAGES = [
    "a < b", "x<", "<?xml version='1.0'?><p>x</p>", "<![CDATA[x]]>",
    "<script>no closer", "<a b=c/>", '<a href="x"title="y">',
    "<div\x0bclass='a'>", "<!-- unclosed", "</ div>", "<o:p>x</o:p>",
    "<script>x</\u017fcript></script>"]


def test_strict_tokenizer_matches_htmlparser_on_mutated_pages():
    """Fixed-seed mutation fuzz over the parity corpus's tag-soup
    generator: wherever the strict tokenizer accepts a page, its tree
    (names, attributes in insertion order, text chunks) is the one the
    installed html.parser builds."""
    rng = random.Random(5)
    fast = 0
    for _ in range(4000):
        page = mutate_markup(rng, _random_markup(rng))
        strict = dom._parse_strict(page)
        if strict is None:
            continue
        fast += 1
        assert dom_dump(strict) == dom_dump(dom._parse_htmlparser(page)), page
    # the fuzz must exercise the strict path, not only its declines
    assert fast > 1000


def test_strict_precheck_declines_what_the_token_loop_declines(monkeypatch):
    """On mutated and edge pages, the whole-page pattern that rejects a
    page before any tree is built agrees with the token loop run
    without it: it neither drops pages from the strict path nor lets
    declined pages build a tree first.  The one tolerated gap is a
    raw-text closer with non-ASCII characters, which only the loop
    declines."""
    rng = random.Random(8)
    pages = [mutate_markup(rng, _random_markup(rng)) for _ in range(2000)]
    pages += _EDGE_PAGES + _OUT_OF_GRAMMAR_PAGES
    prechecked = [dom._PAGE_RE.match(page) is not None for page in pages]
    monkeypatch.setattr(dom, "_PAGE_RE", re.compile(""))
    for page, precheck in zip(pages, prechecked):
        loop = dom._parse_strict(page) is not None
        assert precheck == loop or (precheck and not page.isascii()), page
    assert 500 < sum(prechecked) < 1800


def test_unmutated_random_markup_takes_the_strict_path():
    rng = random.Random(6)
    for _ in range(300):
        page = _random_markup(rng)
        strict = dom._parse_strict(page)
        assert strict is not None, page
        assert dom_dump(strict) == dom_dump(dom._parse_htmlparser(page))


def test_strict_tokenizer_edge_pages_match_htmlparser():
    for page in _EDGE_PAGES:
        strict = dom._parse_strict(page)
        assert strict is not None, page
        assert dom_dump(strict) == dom_dump(dom._parse_htmlparser(page))


def test_strict_tokenizer_declines_outside_its_grammar():
    for page in _OUT_OF_GRAMMAR_PAGES:
        assert dom._parse_strict(page) is None, page
        # parse_html still builds html.parser's tree for them
        assert dom_dump(parse_html(page)) == dom_dump(
            dom._parse_htmlparser(page))


def test_synth_family_pages_take_the_strict_path(spark):
    """Guard against a silent fallback: every page the engine's own
    generators emit (all three families, several sizes, with and
    without filler) is tokenized by the strict path."""
    from pyspark.sql import functions as F

    from engine.synth import html_family_exprs, synth_transcripts

    pages = [r.text for r in synth_transcripts(spark, 6, 8).collect()
             if r.text.startswith("<")]
    exprs = [F.expr(e)
             for n_items in (1, 5, 24)
             for extra in ("''", "'filler prose & more'")
             for e in html_family_exprs("concat('Book ', i)",
                                        "cast(100 + i * 7 as string)",
                                        n_items, extra).values()]
    pages.extend(spark.range(1).select(*exprs).collect()[0])
    assert len(pages) > 20
    for page in pages:
        strict = dom._parse_strict(page)
        assert strict is not None, page
        assert dom_dump(strict) == dom_dump(dom._parse_htmlparser(page))
