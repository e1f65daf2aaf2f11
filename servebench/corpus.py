"""Seeded inputs: the document corpus, the request lists and the catalog
tables.  Pure Python (no Spark), so the fast tests can check that one seed
always gives the same bytes and another seed gives different ones.

The corpus imitates the repository's synthetic ``documents`` table: texts
drawn from a 30-word vocabulary, five languages (``en`` about 44 %), twenty
sources, and a few near-duplicates that repeat an earlier text plus the word
``dup``.  A seeded subset of documents carries one planted rare token each
(a "needle"), so a search for that token has exactly one right answer.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

VOCAB = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part big "
    "sort query fast the"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (44, 14, 14, 14, 14)


@dataclass(frozen=True)
class Doc:
    doc_id: int
    text: str
    lang: str
    source: str
    ext: str
    needle: str | None = None

    @property
    def filename(self) -> str:
        return f"doc_{self.doc_id:06d}.{self.ext}"


@dataclass
class Corpus:
    docs: list[Doc]
    needles: dict[str, Doc] = field(default_factory=dict)

    def user_bytes(self) -> int:
        return sum(len(d.text.encode()) for d in self.docs)


def _needle_token(rng: random.Random) -> str:
    # alphanumeric only: the engine's BM25 tokenizer splits on whitespace and
    # lowercases, so this survives as one term that no other text contains
    return "zq" + "".join(rng.choice("0123456789abcdef") for _ in range(8))


def make_corpus(seed: int, n_docs: int, n_needles: int) -> Corpus:
    rng = random.Random(f"corpus:{seed}")
    docs: list[Doc] = []
    needles: dict[str, Doc] = {}
    needle_ids = set(rng.sample(range(n_docs), n_needles))
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            base = docs[rng.randrange(i)].text
            text = base + " dup" * rng.randint(1, 2)
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 95)))
        needle = None
        if i in needle_ids:
            needle = _needle_token(rng)
            words = text.split(" ")
            words.insert(rng.randrange(len(words) + 1), needle)
            text = " ".join(words)
        doc = Doc(
            doc_id=i,
            text=text,
            lang=rng.choices(LANGS, LANG_WEIGHTS)[0],
            source=f"src{rng.randrange(20)}",
            ext=rng.choice(("md", "txt")),
            needle=needle,
        )
        docs.append(doc)
        if needle:
            needles[needle] = doc
    return Corpus(docs, needles)


# ---------------------------------------------------------------------------
# search_hybrid requests

# One block of requests: 5 unscoped, 2 library-scoped, 1 filtered (62.5 /
# 25 / 12.5 %).  Each slot's kind, query length, library and top_k are fixed
# (every fourth slot is a needle query), so every block of every seed asks
# for the same amount of work; only the words and the needles are seeded.
KIND_PATTERN = "ULUFUULU"
QUERY_WORDS = (2, 3, 4, None, 3, 4, 5, None)
# search_hybrid's libraries: English, the other European languages, Chinese
# (about 44 / 42 / 14 % of the documents).  The scoped slots ask the largest
# and the smallest.
LIBRARY_OF_LANG = {"en": "en", "de": "eu", "es": "eu", "fr": "eu", "zh": "zh"}
SLOT_LIBRARY = {1: "en", 6: "zh"}


def search_requests(corpus: Corpus, seed: int, n: int) -> list[dict]:
    rng = random.Random(f"search:{seed}")
    needles = sorted(corpus.needles.values(), key=lambda d: d.doc_id)
    out = []
    for i in range(n):
        slot = i % len(KIND_PATTERN)
        kind = KIND_PATTERN[slot]
        req: dict = {"top_k": 5 if i % 2 == 0 else 10}
        expect = None
        if QUERY_WORDS[slot] is None:
            pool = [d for d in needles if kind != "F" or d.ext == "md"]
            doc = rng.choice(pool)
            req["query"] = doc.needle
            expect = doc.filename
        else:
            req["query"] = " ".join(rng.sample(VOCAB, QUERY_WORDS[slot]))
        if kind == "L":
            req["library"] = SLOT_LIBRARY[slot]
        if kind == "F":
            req["filter"] = {"file_type": "md"}
        out.append({"args": req, "expect": expect})
    return out


# ---------------------------------------------------------------------------
# library_churn edit session

def note_text(rng: random.Random, token: str, n_words: int = 1500) -> str:
    words = [rng.choice(VOCAB) for _ in range(n_words)]
    words.insert(rng.randrange(len(words) + 1), token)
    # paragraphs, so the chunker has boundaries to respect
    paras = [" ".join(words[j:j + 120]) for j in range(0, len(words), 120)]
    return f"# Note {token}\n\n" + "\n\n".join(paras)


def churn_cycles(seed: int, n: int, library: str) -> list[dict]:
    """One edit cycle per entry: a new note and its changed version."""
    rng = random.Random(f"churn:{seed}")
    cycles = []
    for i in range(n):
        token = _needle_token(rng)
        text = note_text(rng, token)
        changed = text + "\n\n" + " ".join(rng.choice(VOCAB) for _ in range(40))
        cycles.append({
            "token": token,
            "source": f"notes/{seed}/note_{i:04d}.md",
            "library": library,
            "text": text,
            "changed": changed,
        })
    return cycles


def digest(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()
