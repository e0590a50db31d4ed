"""Seeded corpus generator for the summarization benchmark.

Documents are Vietnamese-syllable prose with paragraph (``\\n\\n``) and
sentence (``.``) structure under section headings, a reference summary per
document, and a structure tree in the JSON shape ``hierarchical_summarize``
reads (``{type, text, children}``, Document -> Header -> Paragraph).

Two seeds are in play:

* the *shape* of every document (section/paragraph/sentence lengths)
  comes from a fixed structure seed, so chunk counts, collapse rounds and
  LLM call counts are the same on every run;
* the *words* come from ``--seed``, so each seed is a different corpus of the
  same size.

The first paragraph after the opening heading is at least ``FIRST_MIN``
tokens long, so the first chunk of every document holds at least ``k``
tokens and a first-k extractive summarizer has a closed form (the summary of
every truncated, map-reduce and iterative run is the document's first k
whitespace tokens).
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass

_ONSETS = (
    "", "b", "c", "ch", "d", "đ", "g", "gi", "h", "k", "kh", "l", "m", "n",
    "ng", "nh", "p", "ph", "qu", "r", "s", "t", "th", "tr", "v", "x",
)
_NUCLEI = (
    "a", "á", "à", "ả", "ã", "ạ", "ă", "ắ", "ằ", "â", "ấ", "ầ", "e", "é", "è",
    "ê", "ế", "ề", "ệ", "i", "í", "ì", "o", "ó", "ò", "ô", "ố", "ồ", "ơ", "ớ",
    "ờ", "u", "ú", "ù", "ư", "ứ", "ừ", "y", "ươ", "ướ", "iê", "iế", "uô", "uố",
)
_CODAS = ("", "", "", "c", "ch", "m", "n", "ng", "nh", "p", "t", "i", "o", "u")

STRUCTURE_SEED = 7
SENTENCE = (8, 24)  # tokens per sentence
PARAGRAPH = (2, 7)  # sentences per paragraph
FIRST_MIN = 300  # tokens in the first body paragraph, at least every workload's k
# documents per corpus: with a set-up share of half, one is summarized at
# set-up and one skips past it
N_DOCS = 2


def vocabulary(size: int = 4000) -> list[str]:
    """A fixed syllable vocabulary (seed-independent), most frequent first."""
    rng = random.Random(20250608)
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        s = rng.choice(_ONSETS) + rng.choice(_NUCLEI) + rng.choice(_CODAS)
        if s not in seen and s != "mục":
            seen.add(s)
            out.append(s)
    return out


@dataclass(frozen=True)
class CorpusSpec:
    tokens_lo: int  # document length range (structure seed picks inside it)
    tokens_hi: int
    ref_lo: int  # reference summary length range
    ref_hi: int
    sections: tuple[int, int]  # sections per document


class _Words:
    """Zipf-like syllable sampler driven by the content seed."""

    def __init__(self, rng: random.Random, vocab: list[str]):
        self._rng = rng
        self._vocab = vocab
        self._weights = [1.0 / (i + 10) for i in range(len(vocab))]
        self._buf: list[str] = []

    def take(self, n: int) -> list[str]:
        while len(self._buf) < n:
            self._buf.extend(self._rng.choices(self._vocab, self._weights, k=4096))
        out, self._buf = self._buf[:n], self._buf[n:]
        return out


def _sentence_lengths(srng: random.Random, total: int) -> list[int]:
    out = []
    while total > 0:
        n = min(total, srng.randint(*SENTENCE))
        out.append(n)
        total -= n
    return out


def _doc_shape(srng: random.Random, spec: CorpusSpec) -> list[list[list[int]]]:
    """sections -> paragraphs -> sentence lengths (heading tokens excluded).
    The first paragraph of the first section is stretched to at least
    ``FIRST_MIN`` tokens."""
    n_tokens = srng.randint(spec.tokens_lo, spec.tokens_hi)
    n_sec = srng.randint(*spec.sections)
    per_sec = max(FIRST_MIN, n_tokens // n_sec)
    shape: list[list[list[int]]] = []
    first = True
    for _ in range(n_sec):
        paras = []
        left = per_sec
        while left > 0:
            want = sum(srng.randint(*SENTENCE) for _ in range(srng.randint(*PARAGRAPH)))
            if first:
                want = max(want, FIRST_MIN)
                first = False
            # the last paragraph absorbs a remainder shorter than a sentence
            want = want if left - want >= SENTENCE[0] else left
            paras.append(_sentence_lengths(srng, want))
            left -= want
        shape.append(paras)
    return shape


def _sentence(words: _Words, n: int) -> str:
    toks = words.take(n)
    toks[0] = toks[0].capitalize()
    return " ".join(toks) + "."


def make_corpus(spec: CorpusSpec, seed: int) -> list[dict]:
    """Return ``[{doc_id, text, reference, tree_json}]`` for ``spec``.

    Same ``seed`` -> byte-identical corpus. The document text holds the
    headings as their own paragraphs, so every token of a hierarchical
    summary's ``"title:\\nsummary"`` splice is a document token (up to the
    colon)."""
    srng = random.Random(STRUCTURE_SEED)
    crng = random.Random(seed)
    words = _Words(crng, vocabulary())
    docs = []
    width = len(str(N_DOCS))
    for i in range(N_DOCS):
        doc_id = f"d{i:0{width}d}"
        paras: list[str] = []
        sections = []
        for si, sec in enumerate(_doc_shape(srng, spec), 1):
            title = f"Mục {si}"
            paras.append(title)
            nodes = []
            for sent_lens in sec:
                p = " ".join(_sentence(words, n) for n in sent_lens)
                paras.append(p)
                nodes.append({"type": "Paragraph", "text": p, "children": []})
            sections.append({"type": "Header", "text": title, "children": nodes})
        text = "\n\n".join(paras)
        body = [p for p in paras if not p.startswith("Mục ")]
        # reference: a few sentences drawn from the body (extractive, like
        # a human abstract that reuses wording) padded with fresh syllables
        ref_len = srng.randint(spec.ref_lo, spec.ref_hi)
        pool = " ".join(body).split()
        ref: list[str] = []
        while len(ref) < ref_len:
            if crng.random() < 0.7 and pool:
                start = crng.randrange(len(pool))
                ref.extend(pool[start : start + crng.randint(4, 16)])
            else:
                ref.extend(words.take(crng.randint(2, 6)))
        tree = {"type": "Document", "text": doc_id, "children": sections}
        docs.append(
            {
                "doc_id": doc_id,
                "text": text,
                "reference": " ".join(ref[:ref_len]),
                "tree_json": json.dumps(tree, ensure_ascii=False),
            }
        )
    return docs
