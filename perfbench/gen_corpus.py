"""Seeded generator for the LLM-data inputs of the traced run.

Writes, under one directory:

- ``documents.parquet`` (doc_id, text): English documents of 8 to 12
  lines, dealt in fixed-size blocks of kinds whose outcome is known —
  originals, near-duplicates (three words replaced), exact copies, German
  documents, short documents, and documents that quote a benchmark
  passage. One document in three also ends with one of three boilerplate
  lines shared across the corpus;
- ``benchmark.parquet`` (text): the passages the contaminated documents
  quote;
- ``embeddings.parquet`` (vec_id, embedding): 64-dimensional vectors
  around eight centres.

The vocabulary is fixed; the seed picks the words, the ids (and with them
the history/batch split by id parity), the row order, the noise of the
vectors and the ANN query. Every seed deals the same number of documents
of each kind, so the amount of work stays the same, and :func:`generate`
returns the counts the curation and decontamination outputs must show.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# outcome kinds per block of 20 documents
DOC_BLOCK = (["original"] * 12 + ["near_dup"] * 2 + ["exact_dup", "german", "short"]
             + ["contaminated"] * 3)
DIM = 64
CENTRES = 8
N_PASSAGES = 5
PASSAGE_WORDS = 30
STOP_EN = ["the", "and", "of", "to", "is", "in", "that", "it"]
STOP_DE = ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"]
BOILERPLATE = [
    "home about contact privacy terms sitemap careers press",
    "we use cookies to improve your experience accept all cookies",
    "copyright all rights reserved reproduction without permission prohibited",
]
# the stopwords of every language the engine detects; no made-up word is one
_MARKERS = {"le", "la", "les", "et", "est", "que", "une", "dans", "el", "los", "las",
            "es", "una", "por", "con", "il", "di", "che", "non", "per", "sono",
            "della", "gli", "o", "de", "uma", "para", "com", "mais", "os", "het",
            "een", "van", "niet", "dat", "zijn", "voor", *STOP_EN, *STOP_DE}


def _vocabulary(n: int = 3000) -> list[str]:
    """Fixed made-up words of 5 to 8 letters (the same for every seed)."""
    rng = random.Random(0)
    cons, vows = "bcdfghklmnprstvz", "aeiou"
    words: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(cons) + rng.choice(vows) for _ in range(rng.randint(3, 4)))
        w = w[:rng.randint(5, len(w))]
        if w not in _MARKERS:
            words.add(w)
    return sorted(words)


VOCAB = _vocabulary()


def _line(rng: random.Random, stops: list[str], n_words: int) -> list[str]:
    return [rng.choice(stops) if rng.random() < 0.4 else rng.choice(VOCAB)
            for _ in range(n_words)]


def _text(rng: random.Random, stops: list[str], n_lines: int) -> list[list[str]]:
    return [_line(rng, stops, rng.randint(10, 14)) for _ in range(n_lines)]


def _join(lines: list[list[str]]) -> str:
    return "\n".join(" ".join(words) for words in lines)


def _near_dup(rng: random.Random, lines: list[list[str]]) -> list[list[str]]:
    out = [list(ln) for ln in lines]
    for _ in range(3):
        ln = rng.randrange(len(out))
        out[ln][rng.randrange(len(out[ln]))] = rng.choice(VOCAB)
    return out


def generate(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> dict:
    """Write the corpus, benchmark and embeddings for ``seed``.

    Returns ``{"paths", "tokens", "query_id", "expected"}``: ``expected``
    holds the curation status counts ("duplicate", "wrong_lang",
    "low_quality") and the documents left after decontamination."""
    rng = random.Random(seed)
    n_docs = max(len(DOC_BLOCK), n_docs - n_docs % len(DOC_BLOCK))
    passages = [[rng.choice(VOCAB) for _ in range(PASSAGE_WORDS)] for _ in range(N_PASSAGES)]
    texts: list[str] = []
    for start in range(0, n_docs, len(DOC_BLOCK)):
        kinds = list(DOC_BLOCK)
        rng.shuffle(kinds)
        # copies refer to originals of the same block: originals come first
        kinds.sort(key=lambda k: k != "original")
        block: list[list[list[str]]] = []
        for i, kind in enumerate(kinds):
            if kind == "original":
                lines = _text(rng, STOP_EN, rng.randint(8, 12))
                if (start + i) % 3 == 0:
                    lines.append(BOILERPLATE[rng.randrange(len(BOILERPLATE))].split())
                block.append(lines)
                texts.append(_join(lines))
            elif kind == "near_dup":
                texts.append(_join(_near_dup(rng, rng.choice(block))))
            elif kind == "exact_dup":
                texts.append(_join(rng.choice(block)))
            elif kind == "german":
                texts.append(_join(_text(rng, STOP_DE, rng.randint(8, 12))))
            elif kind == "short":
                texts.append(_join(_text(rng, STOP_EN, 1)))
            else:  # contaminated: an original with one benchmark passage inside
                lines = _text(rng, STOP_EN, rng.randint(8, 12))
                lines.insert(rng.randrange(len(lines)), rng.choice(passages))
                texts.append(_join(lines))

    ids = rng.sample(range(1, 50 * n_docs), n_docs)
    order = list(range(n_docs))
    rng.shuffle(order)
    doc_ids = [ids[k] for k in order]
    doc_texts = [texts[k] for k in order]

    centres = [[rng.gauss(0.0, 1.0) for _ in range(DIM)] for _ in range(CENTRES)]
    vec_ids = rng.sample(range(1, 50 * n_vecs), n_vecs)
    vecs = []
    for k in range(n_vecs):
        c = centres[k % CENTRES]
        vecs.append([round(x + rng.gauss(0.0, 0.3), 5) for x in c])

    os.makedirs(out_dir, exist_ok=True)
    paths = {name: os.path.join(out_dir, f"{name}.parquet")
             for name in ("documents", "benchmark", "embeddings")}
    pq.write_table(pa.table({"doc_id": pa.array(doc_ids, pa.int64()),
                             "text": pa.array(doc_texts, pa.string())}),
                   paths["documents"])
    pq.write_table(pa.table({"text": [" ".join(p) for p in passages]}), paths["benchmark"])
    pq.write_table(pa.table({"vec_id": pa.array(vec_ids, pa.int64()),
                             "embedding": pa.array(vecs, pa.list_(pa.float32()))}),
                   paths["embeddings"])

    blocks = n_docs // len(DOC_BLOCK)
    expected = {
        "duplicate": blocks * DOC_BLOCK.count("exact_dup"),
        "wrong_lang": blocks * DOC_BLOCK.count("german"),
        "low_quality": blocks * DOC_BLOCK.count("short"),
        "decontaminated_docs": n_docs - blocks * DOC_BLOCK.count("contaminated"),
    }
    return {
        "paths": paths,
        "tokens": sum(len(t.split()) for t in doc_texts),
        "query_id": vec_ids[rng.randrange(n_vecs)],
        "expected": expected,
    }
