"""JSON-script kernel (SURVEY.md §2.3) unit tests."""

from engine.dom import parse_html
from engine.kernels import jsonld


def test_flatten_json():
    flat = jsonld.flatten_json({"a": {"b": 1}, "c": [2, {"d": 3}]})
    assert flat == {"a.b": 1, "c[0]": 2, "c[1].d": 3}


def test_flatten_top_level_list():
    assert jsonld.flatten_json([{"a": 1}]) == {"[0].a": 1}


def test_prefix_strip_50_percent_rule():
    flat = {"p.q.a": 1, "p.q.b": 2, "p.q.c": 3, "other": 4}
    cleaned = jsonld.clean_flattened_json(flat)
    # 'p' covers 3/4 ≥ 50% → stripped; then 'q' covers 3/4 → stripped
    assert cleaned == {"a": 1, "b": 2, "c": 3, "other": 4}


def test_prefix_strip_below_threshold_kept():
    flat = {"p.a": 1, "q.b": 2, "r.c": 3, "s.d": 4}
    assert jsonld.clean_flattened_json(flat) == flat


def test_regex_patterns():
    flat = {
        "name": "top",
        "book.name": "dotted",
        "book[0].name": "idx0",
        "books[1].name": "idx1-plural",      # naive +'s' plural
        "data.book[2].name": "nested",
        "data.books[3].name": "nested-plural",
        ".book[4].name": "lead-dot",          # only pattern 5 matches
        ".books[5].name": "lead-dot-plural",  # only pattern 6 matches
    }
    results = jsonld.extract_using_regex(flat, "book", ["name"])
    values = {r["name"] for r in results}
    # 'single' collects pattern-1 then pattern-2 hits (last write wins)
    assert "dotted" in values
    assert "idx0" in values and "idx1-plural" in values
    # quirk carried verbatim: patterns 5/6 are anchored with a leading
    # \. but applied via re.match (ref json_script_parser.py:403-415),
    # so nested keys can never match — only keys that begin with a dot
    assert "nested" not in values and "nested-plural" not in values
    assert "lead-dot" in values and "lead-dot-plural" in values
    assert results == [{"name": "dotted"}, {"name": "idx0"},
                       {"name": "idx1-plural"}, {"name": "lead-dot"},
                       {"name": "lead-dot-plural"}]


def test_regex_patterns_entity_already_plural():
    # an entity ending in "s" is its own plural: patterns 3/4 (and 5/6)
    # coincide, and "+s" is not applied a second time
    flat = {"news[0].title": "n0", ".news[2].title": "n2",
            "newss[1].title": "double-s"}
    results = jsonld.extract_using_regex(flat, "news", ["title"])
    assert results == [{"title": "n0"}, {"title": "n2"}]


def test_values_stringified():
    flat = {"book[0].price": 12.5, "book[0].stock": None}
    results = jsonld.extract_using_regex(flat, "book", ["price", "stock"])
    assert results == [{"price": "12.5", "stock": "None"}]


def test_remove_duplicates():
    rows = [{"a": "1"}, {"a": "1"}, {"a": "2"}]
    assert jsonld.remove_duplicates(rows) == [{"a": "1"}, {"a": "2"}]


def test_sufficiency_gate():
    attrs = ["a", "b", "c"]
    assert jsonld.sufficiency_gate([{"a": "1", "b": "2"}], attrs)      # 2 ≥ 2
    assert not jsonld.sufficiency_gate([{"a": "1"}], attrs)            # 1 < 2
    assert not jsonld.sufficiency_gate([], attrs)


def test_parse_json_scripts_end_to_end():
    html = """<html><head>
    <script type="application/ld+json">
    {"book": [{"name": "N0", "price": "P0"}, {"name": "N1", "price": "P1"},
              {"name": "N2", "price": "P2"}]}
    </script>
    <script>var notJson = 1;</script>
    </head><body></body></html>"""
    root = parse_html(html)
    assert jsonld.has_json_scripts(root)
    results = jsonld.parse_json_scripts(root, "book", ["name", "price"])
    assert results == [{"name": "N0", "price": "P0"},
                       {"name": "N1", "price": "P1"},
                       {"name": "N2", "price": "P2"}]


def test_two_element_array_collapses_via_prefix_strip():
    """Quirk carried verbatim: for a 2-element array each ``book[i]``
    prefix covers exactly 50% of keys, so the prefix-strip threshold
    (ref json_script_parser.py:230 — ``>= total*0.5``) strips them one
    after the other and the flattened keys collide; the LAST element
    survives as a 'single' instance."""
    html = ('<script type="application/ld+json">'
            '{"book": [{"name": "N0", "price": "P0"},'
            ' {"name": "N1", "price": "P1"}]}</script>')
    root = parse_html(html)
    results = jsonld.parse_json_scripts(root, "book", ["name", "price"])
    assert results == [{"name": "N1", "price": "P1"}]


def test_next_data_dedup_by_id():
    html = ('<script id="__NEXT_DATA__" type="application/json">'
            '{"book": [{"name": "X"}]}</script>')
    root = parse_html(html)
    scripts = jsonld.find_json_scripts(root)
    assert len(scripts) == 1


def test_invalid_json_skipped():
    html = '<script type="application/ld+json">{oops</script>'
    root = parse_html(html)
    assert jsonld.parse_json_scripts(root, "book", ["name"]) == []
