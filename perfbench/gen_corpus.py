"""Seeded document corpus with planted duplicate structure.

Every document carries the ``cluster`` it belongs to; a perfect
curation run keeps exactly one document per cluster among the docs
that pass the quality filter. Planted shapes:

- unique documents: Zipf-distributed words from a letter-only
  lexicon plus English stopwords (letter-only matters: digit-suffixed
  tokens make every document look alike under char-3-gram shingles);
- near-duplicate clusters: a source document and 1-5 variants with a
  few words substituted, inserted or dropped;
- exact duplicates: copies that differ only in case, punctuation and
  whitespace (the fingerprint normalizes those away);
- homoglyph copies: Latin letters swapped for Cyrillic look-alikes,
  exact duplicates once ``fold_homoglyphs`` has run;
- boilerplate: one sentence repeated a different number of times per
  document, so normalized texts differ (they survive exact dedup) but
  their char-3-gram sets are identical (identical MinHash signatures,
  the hot-bucket case);
- junk: punctuation soup that the quality filter drops.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on", "with", "as", "at", "by", "this", "that")
BOILERPLATE = (
    "read the terms of use and the privacy notice of this site before you continue",
    "subscribe to the weekly letter for the latest news on markets and deals",
)
JUNK_CLUSTER = 10**9  # junk documents get clusters from here up
# Latin → Cyrillic look-alikes that ``functions.text.fold_homoglyphs`` folds back
_HOMOGLYPHS = {"a": "а", "e": "е", "o": "о", "p": "р", "c": "с", "x": "х"}


def _lexicon(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        ln = int(rng.integers(3, 10))
        words.add("".join(letters[rng.integers(0, 26, ln)]))
    return sorted(words - set(STOPWORDS))


def _doc_words(rng: np.random.Generator, lexicon: list[str], n_words: int) -> list[str]:
    ranks = (rng.zipf(1.2, n_words) - 1) % len(lexicon)
    stop = rng.random(n_words) < 0.25
    stop_pick = rng.integers(0, len(STOPWORDS), n_words)
    return [STOPWORDS[s] if st else lexicon[r] for r, st, s in zip(ranks, stop, stop_pick)]


def _edit(rng: np.random.Generator, words: list[str], lexicon: list[str]) -> list[str]:
    """A near-duplicate: 2-6% of positions substituted, inserted or dropped."""
    out = list(words)
    n_edits = max(1, int(len(out) * rng.uniform(0.02, 0.06)))
    for _ in range(n_edits):
        pos = int(rng.integers(0, len(out)))
        op = rng.random()
        word = lexicon[int(rng.integers(0, len(lexicon)))]
        if op < 0.5:
            out[pos] = word
        elif op < 0.8:
            out.insert(pos, word)
        elif len(out) > 10:
            del out[pos]
    return out


def _render(words: list[str]) -> str:
    """Sentence-case text with a period every 8-14 words."""
    parts, i, k = [], 0, 0
    while i < len(words):
        k = 8 + (len(words[i]) + i) % 7
        chunk = words[i:i + k]
        parts.append(" ".join([chunk[0].capitalize(), *chunk[1:]]) + ".")
        i += k
    return " ".join(parts)


def _exact_copy(rng: np.random.Generator, text: str) -> str:
    """Same fingerprint, different bytes: case, punctuation, spacing."""
    r = rng.random()
    if r < 0.33:
        return text.upper()
    if r < 0.66:
        return text.replace(". ", "!  ").replace(" ", "  ", 3)
    return f"  {text.lower()} --"


def _homoglyph_copy(rng: np.random.Generator, text: str) -> str:
    chars = list(text)
    for i, ch in enumerate(chars):
        if ch in _HOMOGLYPHS and rng.random() < 0.3:
            chars[i] = _HOMOGLYPHS[ch]
    return "".join(chars)


def generate(seed: int, n_docs: int) -> tuple[pa.Table, dict[str, int]]:
    """``n_docs`` documents ``(doc_id, text, cluster)`` in seeded random
    order, plus counts per planted kind."""
    rng = np.random.default_rng(seed)
    lexicon = _lexicon(rng, 6000)
    n_junk = n_docs // 25
    n_boiler = n_docs // 25
    body = n_docs - n_junk - n_boiler

    docs: list[tuple[str, int, str]] = []  # (text, cluster, kind)
    cluster = 0
    while len(docs) < body:
        cluster += 1
        words = _doc_words(rng, lexicon, int(rng.integers(40, 120)))
        text = _render(words)
        docs.append((text, cluster, "unique"))
        r = rng.random()
        if r < 0.15:
            for _ in range(int(rng.integers(1, 6))):
                docs.append((_render(_edit(rng, words, lexicon)), cluster, "near"))
        elif r < 0.23:
            docs.append((_exact_copy(rng, text), cluster, "exact"))
        elif r < 0.28:
            docs.append((_homoglyph_copy(rng, text), cluster, "homoglyph"))
    docs = docs[:body]

    for i in range(n_boiler):
        unit = BOILERPLATE[i % len(BOILERPLATE)]
        reps = 2 + i // len(BOILERPLATE)
        text = " ".join([unit.capitalize() + "."] * reps)
        docs.append((text, -(1 + i % len(BOILERPLATE)), "boilerplate"))

    for i in range(n_junk):
        n = int(rng.integers(20, 60))
        soup = "".join(rng.choice(list("!?#$%&*()[]{}<>~^|;:"), n))
        docs.append((f"{soup} {lexicon[i % len(lexicon)]} {soup}", JUNK_CLUSTER + i, "junk"))

    order = rng.permutation(len(docs))
    texts = [docs[i][0] for i in order]
    clusters = [docs[i][1] for i in order]
    kinds: dict[str, int] = {}
    for _, _, kind in docs:
        kinds[kind] = kinds.get(kind, 0) + 1
    table = pa.table({
        "doc_id": pa.array(np.arange(1, len(docs) + 1, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "cluster": pa.array(clusters, type=pa.int64()),
    })
    return table, kinds
