"""Generate snapshot goldens.

Two snapshot sets:

* **Reference snapshots** — engine output over the reference's own
  fixture corpus (``SAMPLES_DIR``, read-only) × FIXTURES.md §2
  queries.  The reference itself does not run in this project's
  environment (its bs4/flask dependency stack is absent), so per-turn
  parity is established by (a) kernel-level unit tests against the
  reference's inline test cases and (b) these committed snapshots,
  which pin the deterministic configuration's output byte-for-byte
  against regressions.  ``python scripts/gen_goldens.py --check`` verifies
  instead of writing.
* **Self-contained parity snapshots** (``--parity``) — the Spark
  extraction operators (``extract_turns`` with both prose paths,
  ``extract_turns_multi`` over good, attribute-less and entity-less
  queries) plus per-page ``extract_turn`` envelopes and DOM dumps,
  over a corpus built only from files in this repository: the
  ``engine.synth`` families at several sizes, the inline HTML of the
  kernel unit tests, a fixed-seed random markup sample, prose, NULL
  and ``&``-only text.  The corpus is frozen into
  ``goldens/parity_corpus.json`` when the snapshots are written, so
  the check depends on the operators only.
  ``python scripts/gen_goldens.py --parity --check`` verifies.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from engine import parser  # noqa: E402
from engine.schema import RESULTS_SCHEMA  # noqa: E402

SAMPLES_DIR = "/root/reference/samples"
_GOLDENS_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "goldens")
GOLDENS_PATH = os.path.join(_GOLDENS_DIR, "samples_snapshot.json")
# matcher-on configuration (JobConfig(matcher='token')): same fixture
# corpus through the TokenSimilarityMatcher so the semantic tiers (T3/
# G8/J5) are a pinned, supported mode — not just a test-only path
GOLDENS_SEMANTIC_PATH = os.path.join(
    _GOLDENS_DIR, "samples_snapshot_semantic.json")

# fixture family × query pairs (FIXTURES.md §2/§3)
CASES = [
    ("two-books.html", "Can you give me the book: name and price?"),
    ("books.html", "Can you give me the book: name and price?"),
    ("books.html", "List book title, price and availability"),
    ("single-book.html", "Can you give me the book: name and price?"),
    ("book-simple.html", "Can you give me the book: name and price?"),
    ("tables.html", "Can you give me the book: name and price?"),
    ("tables-without-thead.html", "Can you give me the book: name and price?"),
    ("ecommerce.html", "Get the product name, price, and description"),
    ("products.html", "Get the product name, price, and description"),
    ("jobs.html", "Extract job title, location, salary, and company name from the listings"),
    ("two-jobs.html", "Extract job title, location, salary, and company name from the listings"),
    ("clubs.html", "Extract club name, image and link"),
    ("two-clubs.html", "Extract club name, image and link"),
    ("properties.html", "Get the property name, price, and address"),
    ("property.html", "Get the property name, price, and address"),
    ("property.html", "Get the property title and price"),
    ("application-ldjson.json", "Get the property name, price, and address"),
    # broadened surface: image/link ladders, availability, ratings,
    # single-attr queries, table-vs-general dispatch
    ("books.html", "Get the book image and price"),
    ("clubs.html", "Extract club link and image"),
    ("two-clubs.html", "Extract club name and link"),
    ("single-book.html", "Get the book availability and price"),
    ("ecommerce.html", "Get the product description"),
    ("products.html", "List product name and description"),
    ("two-jobs.html", "Get the job description and title"),
    ("tables.html", "Get the person name and age"),
    ("tables-without-thead.html", "Get the person name and age"),
    ("book-simple.html", "Get the book title, price and image"),
]


def build(matcher=None) -> dict:
    out = {}
    for fname, query in CASES:
        with open(os.path.join(SAMPLES_DIR, fname), encoding="utf-8",
                  errors="replace") as f:
            html = f.read()
        resp = parser.parse(html, query, matcher=matcher)
        out[f"{fname}::{query}"] = {
            "message": resp["message"],
            "results": resp["results"],
            "strategy": resp["metadata"]["approaches_used"]["html_parsing"]
            if "approaches_used" in resp.get("metadata", {}) else None,
        }
    return out


def build_semantic() -> dict:
    from engine.matcher import TokenSimilarityMatcher
    return build(matcher=TokenSimilarityMatcher())


# ---------------------------------------------------------------------------
# self-contained parity snapshots (--parity)

PARITY_CORPUS_PATH = os.path.join(_GOLDENS_DIR, "parity_corpus.json")
PARITY_GOLDENS_PATH = os.path.join(_GOLDENS_DIR, "parity_snapshot.json")
_REPO = os.path.dirname(_GOLDENS_DIR)
# kernel unit tests whose inline HTML joins the corpus
_INLINE_HTML_TESTS = ("tests/test_general.py", "tests/test_table.py",
                      "tests/test_jsonld.py", "tests/test_dom_edges.py")
_RANDOM_SEED = 20240101
_RANDOM_PAGES = 40

BOOK_QUERY = "Can you give me the book: name and price?"
TITLE_QUERY = "List book title, price and availability"
# single-query cases: a good query, an attribute-less one ("books") and
# an entity-less one ("give me", the reference's parse-crash quirk)
SINGLE_QUERIES = {"book": BOOK_QUERY, "books": "books", "give_me": "give me"}
MULTI_QUERIES = {"book": BOOK_QUERY, "title": TITLE_QUERY, "the": "the",
                 "books": "books", "give_me": "give me"}
# the multi-query canonical form keeps the leading query_id + the
# results schema; ts (when the input carries it) is pinned by the
# single-query cases
_MULTI_COLS = ["query_id"] + RESULTS_SCHEMA.fieldNames()


def _inline_test_html() -> list:
    """Every string literal that looks like markup in the kernel unit
    tests, in source order, deduplicated."""
    import ast
    import re

    tag = re.compile(r"<[A-Za-z!/]")
    pages = []
    for rel in _INLINE_HTML_TESTS:
        with open(os.path.join(_REPO, rel), encoding="utf-8") as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and isinstance(node.value, str) \
                    and tag.search(node.value) and node.value not in pages:
                pages.append(node.value)
    return pages


def _random_markup(rng) -> str:
    """One tag-soup page: nested cards, tables, lists, JSON scripts
    (some malformed), entities, unclosed and stray end tags."""
    words = ["Book", "name", "price", "£12.50", "$3", "title", "in stock",
             "a & b", "&amp;", "&lt;x&gt;", "café", "2024", "link", ""]
    classes = ["item", "name", "price", "title", "card", "row", "grid"]

    def text():
        return " ".join(rng.choice(words) for _ in range(rng.randint(1, 3)))

    def element(depth):
        r = rng.random()
        if depth >= 4 or r < 0.2:
            return text()
        if r < 0.3:
            body = ", ".join(
                '{"name": "%s", "price": "£%d"}' % (text(), rng.randint(1, 99))
                for _ in range(rng.randint(0, 3)))
            payload = ('{"book": [%s]}' % body) if rng.random() < 0.8 \
                else "{oops " + body
            return f'<script type="application/ld+json">{payload}</script>'
        if r < 0.4:
            rows = "".join(
                "<tr>" + "".join(f"<td>{text()}</td>"
                                 for _ in range(rng.randint(1, 3))) + "</tr>"
                for _ in range(rng.randint(1, 4)))
            head = "<thead><tr><th>name</th><th>price</th></tr></thead>" \
                if rng.random() < 0.5 else ""
            return f"<table>{head}{rows}</table>"
        name = rng.choice(["div", "p", "span", "a", "ul", "li", "h2",
                           "section", "img"])
        attrs = ""
        if rng.random() < 0.7:
            attrs += f' class="{rng.choice(classes)}"'
        if name == "a":
            attrs += f' href="/p/{rng.randint(0, 9)}"'
        if name == "img":
            return f'<img src="i{rng.randint(0, 9)}.png"{attrs}>'
        inner = "".join(element(depth + 1)
                        for _ in range(rng.randint(1, 4)))
        close = "" if rng.random() < 0.08 else f"</{name}>"
        stray = "</td>" if rng.random() < 0.05 else ""
        return f"<{name}{attrs}>{inner}{close}{stray}"

    body = "".join(element(0) for _ in range(rng.randint(1, 5)))
    return f"<html><body>{body}</body></html>" if rng.random() < 0.7 \
        else body


# fragments that move a page into or out of the strict tokenizer's
# grammar (engine/dom.py); shared by the DOM differential tests and
# scripts/kernel_bench.py
_MUTATION_BITS = [
    "<", ">", "/", "=", '"', "'", "&", "&amp", "&#", ";", " ", "\t", "\n",
    "\r", "\x0b", "\xa0", "\x00", "<!--", "-->", "--!>", "<!", "<?", "</",
    "/>", "<b", "<SCRIPT>", "</script>", "</ script >", "<style>",
    "</STYLE >", "<!DOCTYPE html>", "<![CDATA[x]]>", "a", "Z", "-", ":",
    "_", ".", "#", "`", "\u017f", "é", "<a b=c>", "<a b='c'", "x=y",
    "<p/ >", "<br/>"]


def mutate_markup(rng, page: str) -> str:
    """One to four random edits: insert a markup-significant fragment,
    delete a short run, swap the case of a run, or truncate."""
    for _ in range(rng.randint(1, 4)):
        r = rng.random()
        i = rng.randint(0, len(page))
        if r < 0.45:
            page = page[:i] + rng.choice(_MUTATION_BITS) + page[i:]
        elif r < 0.7:
            page = page[:i] + page[i + rng.randint(1, 6):]
        elif r < 0.85:
            j = min(len(page), i + rng.randint(1, 20))
            page = page[:i] + page[i:j].swapcase() + page[j:]
        else:
            page = page[:i]
    return page


def build_parity_corpus(spark) -> list:
    """The parity corpus as a list of (conv_id, turn_idx, role, text,
    ts) dicts, built from repository inputs only."""
    import random

    from pyspark.sql import functions as F

    from engine.synth import html_family_exprs, synth_transcripts

    rows = []
    for n_conv, turns, skew in ((3, 4, 1), (5, 9, 3)):
        df = synth_transcripts(spark, n_conv, turns, skew_factor=skew,
                               shuffled=False)
        for r in df.orderBy("conv_id", "turn_idx").collect():
            rows.append({"conv_id": f"synth{n_conv}x{turns}_{r.conv_id}",
                         "turn_idx": r.turn_idx, "role": r.role,
                         "text": r.text})
    pages = []
    for n_items in (1, 4, 16):
        for extra in ("''", "'trailing prose'"):
            exprs = html_family_exprs("concat('Book ', i)",
                                      "cast(100 + i * 7 as string)",
                                      n_items, extra)
            row = spark.range(1).select(
                *[F.expr(e).alias(k) for k, e in sorted(exprs.items())]
            ).collect()[0]
            pages.extend(row[k] for k in sorted(exprs))
    pages.extend(_inline_test_html())
    rng = random.Random(_RANDOM_SEED)
    pages.extend(_random_markup(rng) for _ in range(_RANDOM_PAGES))
    pages.extend(["plain prose with no markup at all", "", None, None,
                  "&", "AT&T and P&G", "&amp; only entities &lt;",
                  "tail ampersand &"])
    roles = ("assistant", "tool", "user")
    for i, text in enumerate(pages):
        rows.append({"conv_id": f"page_{i // 8:03d}", "turn_idx": i % 8,
                     "role": roles[i % 3], "text": text})
    for i, r in enumerate(rows):
        r["ts"] = f"2024-01-01 00:{(i // 60) % 60:02d}:{i % 60:02d}"
    return rows


def parity_frame(spark, corpus: list):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(r["conv_id"], r["turn_idx"], r["role"], r["text"], r["ts"])
         for r in corpus],
        "conv_id string, turn_idx int, role string, text string, ts string")
    return df.withColumn("ts", F.to_timestamp("ts"))


def _canon(df, cols=None) -> list:
    """Sorted rows, each a compact JSON array in ``cols`` order; maps
    as key-sorted objects, ts as its session-time-zone string."""
    from pyspark.sql import functions as F

    cols = cols or df.columns
    df = df.select(*[F.date_format(c, "yyyy-MM-dd HH:mm:ss").alias(c)
                     if c == "ts" else F.col(c) for c in cols])
    return sorted(json.dumps(list(r.asDict(recursive=True).values()),
                             sort_keys=True, ensure_ascii=False,
                             separators=(",", ":"))
                  for r in df.collect())


def _dom_dump(node):
    return [node.name, node.attrs,
            [c if isinstance(c, str) else _dom_dump(c)
             for c in node.children]]


def dom_dump(root) -> str:
    """A tree as compact JSON: element names, attributes in insertion
    order and every text chunk — equal dumps mean identical trees."""
    return json.dumps(_dom_dump(root), ensure_ascii=False,
                      separators=(",", ":"))


def build_parity(spark, corpus: list) -> dict:
    """Canonical operator outputs over ``corpus``.  Each case names the
    digest of its sorted rows; ``rows`` holds every distinct row set
    once (both prose paths must give the same rows, so they share an
    entry).  ``pages`` follows the corpus's distinct non-NULL texts in
    order: a DOM dump and the per-turn envelope of the two good
    queries."""
    import hashlib
    from dataclasses import asdict

    from engine import dom
    from engine.extract import extract_turns, extract_turns_multi
    from engine.query_parse import parse_query_hybrid

    out = {"extract_turns": {}, "extract_turns_multi": {}, "pages": [],
           "rows": {}}

    def store(lines: list) -> str:
        digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
        out["rows"][digest] = lines
        return digest

    df = parity_frame(spark, corpus)
    for ts in (True, False):
        inp = df if ts else df.drop("ts")
        for qid, query in sorted(SINGLE_QUERIES.items()):
            for fast in (True, False):
                res = extract_turns(inp, query, jvm_prose_fast_path=fast)
                key = f"{qid}|ts={int(ts)}|jvm_prose_fast_path={int(fast)}"
                out["extract_turns"][key] = {
                    "dtypes": [list(t) for t in res.dtypes],
                    "rows": store(_canon(res))}
    for fast in (True, False):
        res = extract_turns_multi(df, MULTI_QUERIES,
                                  jvm_prose_fast_path=fast)
        out["extract_turns_multi"][f"jvm_prose_fast_path={int(fast)}"] = \
            {"columns": _MULTI_COLS, "rows": store(_canon(res, _MULTI_COLS))}
    parsed = {qid: parse_query_hybrid(MULTI_QUERIES[qid])
              for qid in ("book", "title")}
    texts = []
    for r in corpus:
        if r["text"] is not None and r["text"] not in texts:
            texts.append(r["text"])
    for text in texts:
        out["pages"].append({
            "dom": dom_dump(dom.parse_html(text)),
            "envelopes": {qid: asdict(parser.extract_turn(text, p))
                          for qid, p in sorted(parsed.items())}})
    return out


def _dump(obj, path: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, indent=1, sort_keys=True, ensure_ascii=False)
        f.write("\n")


def parity_main(check: bool) -> int:
    from engine.session import get_spark

    spark = get_spark(app_name="goldens", master="local[4]",
                      shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if check:
            drift = check_parity(spark)
            for line in drift:
                print(f"PARITY MISMATCH: {line}")
            if drift:
                return 1
            print("parity goldens match")
            return 0
        corpus = build_parity_corpus(spark)
        _dump(corpus, PARITY_CORPUS_PATH)
        _dump(build_parity(spark, corpus), PARITY_GOLDENS_PATH)
        print(f"wrote {PARITY_CORPUS_PATH} ({len(corpus)} rows) and "
              f"{PARITY_GOLDENS_PATH}")
        return 0
    finally:
        spark.stop()


def check_parity(spark) -> list:
    """Rebuild the parity snapshot over the frozen corpus and diff it
    against the committed one; [] when they match."""
    with open(PARITY_CORPUS_PATH, encoding="utf-8") as f:
        corpus = json.load(f)
    with open(PARITY_GOLDENS_PATH, encoding="utf-8") as f:
        expected = json.load(f)
    return diff_parity(expected, build_parity(spark, corpus))


def diff_parity(expected: dict, actual: dict) -> list:
    """Human-readable differences between two parity snapshots, compared
    as their serialised JSON (byte for byte); [] when equal."""
    def enc(v):
        return json.dumps(v, sort_keys=True, ensure_ascii=False)

    drift = []
    for section in sorted(set(expected) | set(actual)):
        want, got = expected.get(section), actual.get(section)
        if isinstance(want, dict) and isinstance(got, dict):
            for key in sorted(set(want) | set(got)):
                if enc(want.get(key)) != enc(got.get(key)):
                    drift.append(f"{section}[{key}]")
        elif isinstance(want, list) and isinstance(got, list) \
                and len(want) == len(got):
            drift.extend(f"{section}[{i}]" for i, (w, g)
                         in enumerate(zip(want, got)) if enc(w) != enc(g))
        elif enc(want) != enc(got):
            drift.append(section)
    return drift


def main() -> int:
    if "--parity" in sys.argv:
        return parity_main("--check" in sys.argv)
    snapshots = [(GOLDENS_PATH, build()),
                 (GOLDENS_SEMANTIC_PATH, build_semantic())]
    if "--check" in sys.argv:
        for path, snapshot in snapshots:
            with open(path) as f:
                expected = json.load(f)
            if snapshot != expected:
                print(f"GOLDEN MISMATCH: {path}")
                return 1
        print("goldens match")
        return 0
    os.makedirs(_GOLDENS_DIR, exist_ok=True)
    for path, snapshot in snapshots:
        with open(path, "w") as f:
            json.dump(snapshot, f, indent=1, sort_keys=True)
        print(f"wrote {path} with {len(snapshot)} cases")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
