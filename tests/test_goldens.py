"""Snapshot parity.

* Over the reference's own fixture corpus: pins the deterministic
  configuration's output on all 15 sample pages (SURVEY.md §5.2.2);
  skipped where that corpus is not present.
* Over the self-contained parity corpus (``goldens/parity_corpus.json``,
  built from repository inputs only): pins the Spark extraction
  operators, the per-turn envelopes and the DOM trees byte for byte;
  never skipped.

The goldens were generated by ``scripts/gen_goldens.py`` and are
committed; any kernel change that shifts extraction output fails here.
"""

import json
import os

import pytest

from scripts.gen_goldens import GOLDENS_PATH, SAMPLES_DIR, build, check_parity


@pytest.mark.skipif(not os.path.isdir(SAMPLES_DIR),
                    reason="reference fixture corpus not present")
def test_sample_snapshots_match_goldens():
    with open(GOLDENS_PATH) as f:
        expected = json.load(f)
    actual = build()
    assert set(actual) == set(expected)
    for key in expected:
        assert actual[key] == expected[key], f"snapshot drift: {key}"


@pytest.mark.skipif(not os.path.isdir(SAMPLES_DIR),
                    reason="reference fixture corpus not present")
def test_books_fixture_values():
    """Spot-check real extracted values (not just snapshot equality)."""
    with open(GOLDENS_PATH) as f:
        golden = json.load(f)
    books = golden["books.html::Can you give me the book: name and price?"]
    rows = books["results"]["books"]
    assert len(rows) == 20
    # books.toscrape.com first-page prices, extracted from p.price_color
    assert rows[0]["price"] == "£51.77"
    assert rows[1]["price"] == "£53.74"
    clubs = golden["clubs.html::Extract club name, image and link"]
    crows = clubs["results"]["clubs"]
    assert len(crows) == 75
    links = [r["link"] for r in crows if r.get("link")]
    assert links and all(l.startswith(("http", "/")) for l in links)


def test_parity_snapshots_match_goldens(spark):
    """extract_turns (both prose paths, with and without ts),
    extract_turns_multi and the per-page envelopes / DOM dumps
    reproduce the committed parity goldens exactly."""
    assert check_parity(spark) == []
