"""Single-core kernel microbenchmark — isolates pure extraction cost
from Spark overheads for regression tracking across rounds.

Run: python scripts/kernel_bench.py  → one JSON line.  Besides the
turns/s figures it splits each markup family (general / table / json,
400 pages each, min of 5 passes) into DOM-parse µs and strategy-ladder
µs per page, and reports the share of pages the strict tokenizer
accepts (the rest fall back to html.parser).  It also times pages
outside the tokenizer's grammar, where parse_html declines and runs
html.parser: each family page with an out-of-grammar tag just before
``</body>``, fixed-seed mutated ``gen_goldens._random_markup`` pages, and
the parity corpus's markup pages.  For each it prints parse_html µs, the
html.parser-only µs on the same pages (the cost before the strict
tokenizer existed) and the strict share.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from engine import dom  # noqa: E402
from engine.parser import extract_from_root, extract_turn  # noqa: E402
from engine.query_parse import parse_query_hybrid  # noqa: E402
from scripts.gen_goldens import (  # noqa: E402
    _GOLDENS_DIR, _random_markup, mutate_markup)


def _families():
    def item(d, t, i):
        return (f'<div class="item"><p class="name">Doc {d}-{t}-{i}</p>'
                f'<p class="price">£{1000 + (d * 3 + t + i) % 9000}</p></div>')

    def gen(d, t):
        return ('<html><body><div class="grid">'
                + "".join(item(d, t, i) for i in range(5))
                + '</div><p>filler words here</p></body></html>')

    def tab(d, t):
        rows = "".join(
            f"<tr><td>Doc {d}-{t}-{i}</td><td>£{1000 + (d * 3 + t + i) % 9000}</td></tr>"
            for i in range(5))
        return ("<html><body><table><thead><tr><th>name</th><th>price</th>"
                f"</tr></thead><tbody>{rows}</tbody></table></body></html>")

    def js(d, t):
        items = ", ".join(
            f'{{"name": "Doc {d}-{t}-{i}", "price": "£{1000 + (d * 3 + t + i) % 9000}"}}'
            for i in range(5))
        return ('<html><head><script type="application/ld+json">'
                f'{{"book": [{items}]}}</script></head><body><p>x</p></body></html>')

    return gen, tab, js


def _family_split(parsed, per_family: int = 400, passes: int = 5) -> dict:
    """Per-family parse and ladder µs per page (min over passes) and
    the strict tokenizer's share of all pages."""
    out: dict = {"parse_us": {}, "ladder_us": {}}
    strict = total = 0
    for name, make in zip(("general", "table", "json"), _families()):
        texts = [make(d, 1) for d in range(per_family)]
        strict += sum(dom._parse_strict(t) is not None for t in texts)
        total += len(texts)
        best_parse = best_ladder = float("inf")
        for _ in range(passes):
            t0 = time.perf_counter()
            roots = [dom.parse_html(t) for t in texts]
            t1 = time.perf_counter()
            for root in roots:
                extract_from_root(root, parsed)
            t2 = time.perf_counter()
            best_parse = min(best_parse, (t1 - t0) / len(texts) * 1e6)
            best_ladder = min(best_ladder, (t2 - t1) / len(texts) * 1e6)
        out["parse_us"][name] = round(best_parse, 1)
        out["ladder_us"][name] = round(best_ladder, 1)
    out["strict_tokenizer_share"] = round(strict / total, 4)
    return out


def _min_us(fns, pages, passes: int) -> list:
    """Min µs per page of each function over ``passes`` interleaved
    passes, so host drift hits every function alike."""
    best = [float("inf")] * len(fns)
    for _ in range(passes):
        for i, fn in enumerate(fns):
            t0 = time.perf_counter()
            for page in pages:
                fn(page)
            best[i] = min(best[i], (time.perf_counter() - t0) / len(pages) * 1e6)
    return [round(b, 1) for b in best]


def _decline_split(per_set: int = 200, passes: int = 7) -> dict:
    """parse_html vs html.parser-only µs per page, and the strict share,
    on pages the strict tokenizer declines or may decline."""
    gen, tab, js = _families()

    def tail(make, bad):
        return [make(d, 1).replace("</body>", bad + "</body>")
                for d in range(per_set)]

    rng = random.Random(7)
    with open(os.path.join(_GOLDENS_DIR, "parity_corpus.json")) as f:
        corpus = [r["text"] for r in json.load(f)
                  if r["text"] and "<" in r["text"]]
    sets = {
        "general_tail_unquoted_href": tail(gen, "<a href=/p/1>x</a>"),
        "table_tail_percent_width": tail(tab, "<td width=50%>x</td>"),
        "json_tail_xml_pi": tail(js, '<?xml version="1.0"?>'),
        "general_tail_stray_lt": tail(gen, "a < b"),
        "mutated_random_markup": [mutate_markup(rng, _random_markup(rng))
                                  for _ in range(per_set)],
        "parity_corpus_markup": corpus,
    }
    out = {}
    for name, pages in sets.items():
        parse_us, htmlparser_us = _min_us(
            (dom.parse_html, dom._parse_htmlparser), pages, passes)
        out[name] = {
            "parse_us": parse_us,
            "htmlparser_us": htmlparser_us,
            "strict_share": round(sum(dom._parse_strict(p) is not None
                                      for p in pages) / len(pages), 4),
        }
    return out


def main() -> int:
    parsed = parse_query_hybrid("Can you give me the book: name and price?")
    gen, tab, js = _families()
    texts = [f(d, fam) for d in range(300) for fam, f in enumerate((gen, tab, js))]
    big = open("/root/reference/samples/books.html").read() \
        if os.path.exists("/root/reference/samples/books.html") else gen(0, 0) * 40

    # warm
    for t in texts[:100]:
        extract_turn(t, parsed)

    best_small = 0.0
    best_big = float("inf")
    for _ in range(3):
        t0 = time.time()
        for t in texts:
            extract_turn(t, parsed)
        best_small = max(best_small, len(texts) / (time.time() - t0))
        t0 = time.time()
        for _ in range(20):
            extract_turn(big, parsed)
        best_big = min(best_big, (time.time() - t0) / 20 * 1000)

    # round-2 kernels: boilerplate strip + PDF text, same protocol
    from engine.boilerplate import extract_main_text
    from engine.pdf import extract_pdf_text
    for t in texts[:50]:
        extract_main_text(t)
    best_bp = 0.0
    for _ in range(3):
        t0 = time.time()
        for t in texts:
            extract_main_text(t)
        best_bp = max(best_bp, len(texts) / (time.time() - t0))
    bp_big = float("inf")
    for _ in range(3):
        t0 = time.time()
        for _ in range(20):
            extract_main_text(big)
        bp_big = min(bp_big, (time.time() - t0) / 20 * 1000)
    pdf = (b"%PDF-1.4\n1 0 obj << >> stream\nBT " + b" ".join(
        b"(line %d, with text content) Tj 0 -14 Td" % i for i in range(40))
        + b" ET\nendstream endobj")
    best_pdf = 0.0
    for _ in range(3):
        t0 = time.time()
        for _ in range(2000):
            extract_pdf_text(pdf)
        best_pdf = max(best_pdf, 2000 / (time.time() - t0))

    split = _family_split(parsed)
    declines = _decline_split()

    print(json.dumps({
        "small_turns_per_sec_1core": round(best_small, 1),
        "big_page_ms": round(best_big, 2),
        "big_page_bytes": len(big),
        "big_page_mb_per_sec_1core": round(len(big) / 1e6 / (best_big / 1000), 2),
        "boilerplate_small_per_sec_1core": round(best_bp, 1),
        "boilerplate_big_page_ms": round(bp_big, 2),
        "pdf_docs_per_sec_1core": round(best_pdf, 1),
        "family_parse_us_1core": split["parse_us"],
        "family_ladder_us_1core": split["ladder_us"],
        "strict_tokenizer_share": split["strict_tokenizer_share"],
        "big_page_strict_tokenizer": dom._parse_strict(big) is not None,
        "out_of_grammar_parse_1core": declines,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
