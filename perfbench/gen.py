"""Seeded input generators for the benchmark workloads.

Everything here is plain Python plus pyarrow: the engine never sees
this module, only the parquet tables it writes, so no engine change
can alter a workload.  The same seed and size always yield the same
rows, and every expected output is derived in closed form from
the generator's own draws (the item lists, the injected copies), not
by running the engine.
"""

from __future__ import annotations

import datetime as _dt
import os
import random
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

# vocabulary built from syllables: no markup characters, no word the
# extraction queries ask for ("name", "price", "title"), so filler text
# can never be mistaken for a field
_SYL = ("ka", "lo", "mi", "ren", "tas", "vo", "nu", "pel", "dri", "so",
        "ga", "ber", "lin", "ox", "qua", "zet", "mor", "fi", "hal", "ut")
WORDS = sorted({a + b for a in _SYL for b in _SYL} |
               {a + b + c for a in _SYL for b in _SYL for c in _SYL})

_PRICES = range(100, 100000)

FAMILIES = ("general", "table", "json")
STRATEGY_OF = {"general": "general", "table": "table", "json": "json_script"}

# the user's side of a conversation: prose, no markup
USER_ASK = "Can you give me the book: name and price?"

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("role", pa.string()), ("text", pa.string()),
    ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
])

DOCUMENT_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])


@dataclass
class Turn:
    conv_id: str
    turn_idx: int
    role: str
    text: str
    family: Optional[str] = None            # None = prose (no markup)
    items: List[Tuple[str, str]] = field(default_factory=list)


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choices(WORDS, k=rng.randint(lo, hi)))


def _items(rng: random.Random, lo: int, hi: int) -> List[Tuple[str, str]]:
    n = rng.randint(lo, hi)
    words = rng.choices(WORDS, k=2 * n)
    prices = rng.choices(_PRICES, k=n)
    return [(f"Book {words[2 * k].title()} {words[2 * k + 1]} {k}",
             f"£{prices[k]}") for k in range(n)]


def page(family: str, items: List[Tuple[str, str]], filler: str) -> str:
    """One markup page of the given family carrying ``items``."""
    if family == "general":
        cards = "".join(
            f'<div class="item"><p class="name">{n}</p>'
            f'<p class="price">{p}</p></div>' for n, p in items)
        return (f'<html><body><div class="listing">{cards}</div>'
                f'<p>{filler}</p></body></html>')
    if family == "table":
        rows = "".join(f"<tr><td>{n}</td><td>{p}</td></tr>"
                       for n, p in items)
        return ("<html><body><table><thead><tr><th>name</th><th>price</th>"
                f"</tr></thead><tbody>{rows}</tbody></table>"
                f"<p>{filler}</p></body></html>")
    if family == "json":
        objs = ", ".join(f'{{"name": "{n}", "price": "{p}"}}'
                         for n, p in items)
        return ('<html><head><script type="application/ld+json">'
                f'{{"book": [{objs}]}}</script></head>'
                f"<body><p>{filler}</p></body></html>")
    raise ValueError(f"unknown family {family!r}")


def markup_transcripts(seed: int, n_conv: int) -> List[Turn]:
    """Conversations of 3-7 turns cycling user/assistant/tool.  User
    turns ask in prose; 95% of assistant/tool turns return a markup
    page of 12-24 items with a 60-120 word filler paragraph (about
    2 KB), so per-page DOM and ladder work outweighs the per-job cost."""
    rng = random.Random(seed)
    turns = []
    for c in range(n_conv):
        conv = f"conv_{seed % 1000:03d}_{c:06d}"
        for t in range(rng.randint(3, 7)):
            role = ("user", "assistant", "tool")[t % 3]
            if role != "user" and rng.random() < 0.95:
                fam = FAMILIES[rng.randrange(3)]
                items = _items(rng, 12, 24)
                text = page(fam, items, _words(rng, 60, 120))
                turns.append(Turn(conv, t, role, text, fam, items))
            else:
                text = f"{USER_ASK} {_words(rng, 3, 12)}."
                turns.append(Turn(conv, t, role, text))
    return turns


def write_transcripts(turns: List[Turn], path: str, seed: int,
                      n_files: int = 8) -> None:
    """Write the turns as ``n_files`` parquet files in shuffled order,
    so the scan has parallel splits and the ordering window real work."""
    order = list(range(len(turns)))
    random.Random(seed + 1).shuffle(order)
    t0 = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)
    os.makedirs(path, exist_ok=True)
    per = -(-len(order) // n_files)
    for f in range(n_files):
        part = [turns[i] for i in order[f * per:(f + 1) * per]]
        if not part:
            continue
        table = pa.table({
            "conv_id": [t.conv_id for t in part],
            "turn_idx": [t.turn_idx for t in part],
            "role": [t.role for t in part],
            "text": [t.text for t in part],
            "tool": ["browser" if t.family else None for t in part],
            "ts": [t0 + _dt.timedelta(seconds=t.turn_idx) for t in part],
        }, schema=TRANSCRIPT_SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))


# ---------------------------------------------------------------- cleaning

_EN_STOPS = ("the", "a", "of", "and", "is", "to", "in", "it", "that", "for")
_ES_STOPS = ("el", "la", "de", "y", "es", "que", "los", "en")


@dataclass
class Corpus:
    docs: List[Tuple[int, str, str]]   # (doc_id, text, lang)
    expected_ids: set                  # doc_ids the cleaning job keeps
    exact_copies: set
    near_copies: set
    permuted_copies: set
    gated: set                         # non-English or too short


def _sentence(rng: random.Random, stops: Tuple[str, ...], lo: int,
              hi: int) -> str:
    toks = [rng.choice(stops) if rng.random() < 0.3 else rng.choice(WORDS)
            for _ in range(rng.randint(lo, hi))]
    return " ".join(toks) + "."


def documents(seed: int, n_base: int) -> Corpus:
    """``n_base`` English documents (40-128 tokens, 30% stopwords), 5%
    as many Spanish and 5% too-short documents the gates must drop, and
    injected copies the dedup stages must remove, 4% of each kind: exact
    copies, near copies (one token changed) and permuted copies (same token
    multiset, new order: only the semantic pass can see them).  Copies
    carry larger doc_ids than their originals, so the min-id keeper of
    every duplicate cluster is the original."""
    rng = random.Random(seed)
    docs, expected = [], set()
    english = []
    for i in range(n_base):
        text = " ".join(_sentence(rng, _EN_STOPS, 8, 16)
                        for _ in range(rng.randint(5, 8)))
        docs.append((i, text, "en"))
        english.append((i, text))
        expected.add(i)
    gated = set()
    next_id = n_base
    for _ in range(n_base // 20):
        text = " ".join(_sentence(rng, _ES_STOPS, 8, 16) for _ in range(5))
        docs.append((next_id, text, "es"))
        gated.add(next_id)
        next_id += 1
    for _ in range(n_base // 20):
        docs.append((next_id, _words(rng, 3, 6) + ".", "en"))
        gated.add(next_id)
        next_id += 1

    n_copy = max(1, n_base // 25)
    picks = rng.sample(english, 3 * n_copy)
    exact, near, permuted = set(), set(), set()
    for k, (_, text) in enumerate(picks):
        toks = text.split(" ")
        if k < n_copy:
            new, kind = text, exact
        elif k < 2 * n_copy:
            j = rng.randrange(len(toks))
            toks[j] = rng.choice(WORDS) + "x"
            new, kind = " ".join(toks), near
        else:
            rng.shuffle(toks)
            new, kind = " ".join(toks), permuted
        docs.append((next_id, new, "en"))
        kind.add(next_id)
        next_id += 1
    rng.shuffle(docs)
    return Corpus(docs, expected, exact, near, permuted, gated)


def write_documents(corpus: Corpus, path: str, n_files: int = 4) -> None:
    os.makedirs(path, exist_ok=True)
    per = -(-len(corpus.docs) // n_files)
    for f in range(n_files):
        part = corpus.docs[f * per:(f + 1) * per]
        table = pa.table({
            "doc_id": [d[0] for d in part],
            "text": [d[1] for d in part],
            "lang": [d[2] for d in part],
            "source": [f"src{d[0] % 7}" for d in part],
            "n_chars": [len(d[1]) for d in part],
        }, schema=DOCUMENT_SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))


def expected_records(turn: Turn, attributes: List[str]) -> List[Dict[str, str]]:
    """The records a query for ``attributes`` must extract from a
    markup turn: every item, fields in query order."""
    fields = {"name": 0, "price": 1}
    return [{a: item[fields[a]] for a in attributes} for item in turn.items]
