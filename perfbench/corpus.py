"""Seeded synthetic corpus for the benchmark.

Everything here is a pure function of its arguments: the same seed gives
byte-identical documents and queries, so a run's inputs are reproducible
from ``--seed`` alone.  The engine only ever sees the generated documents.

Shape (chosen against the engine's 1200/600 fixed-size chunker):

- a vocabulary of ~6 k pseudo-words built from syllables, drawn with a
  mild Zipf law, so chunks of unrelated documents share few words;
- lognormal document lengths spanning 1 to ~20 chunks, taken at fixed
  quantiles so that every seed gives a corpus of about the same size;
- ``file_name`` / ``file_type`` / ``document_type`` columns, with the
  reference's three document types;
- optional planted near-duplicate clusters: copies of a base document with
  a small share of words swapped for other words *of the same length*, so a
  copy keeps the chunk boundaries of its base and every chunk of a copy is
  a near-duplicate of the matching chunk of the base.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from statistics import NormalDist

import numpy as np

VOCAB_SIZE = 6000
ZIPF_S = 0.6
DOC_TYPES = ("document", "image", "audio")
DOC_TYPE_P = (0.7, 0.15, 0.15)
#: lognormal document length in characters: median ~3 k, clipped to 1..20
#: chunks at the engine's 1200/600 default.
LEN_MEDIAN_CHARS = 3000
LEN_SIGMA = 0.8
LEN_MIN_CHARS = 300
LEN_MAX_CHARS = 12000
#: share of words a near-duplicate copy swaps out
DUP_EDIT_FRAC = 0.01

_ONSETS = "b c d f g h j k l m n p r s t v w z br ch cr dr fl gr kl pl pr sh st tr".split()
_VOWELS = "a e i o u ai ea ie oo ou".split()
_CODAS = ["", "", "", "n", "r", "s", "l", "m", "t", "nd", "st"]


@dataclass(frozen=True)
class Doc:
    file_name: str
    file_type: str
    document_type: str
    text: str
    #: id of the planted near-duplicate cluster, or -1
    cluster: int = -1

    @property
    def hash(self) -> str:
        return hashlib.sha256(self.text.encode("utf-8")).hexdigest()


def vocabulary(seed: int, size: int = VOCAB_SIZE) -> list[str]:
    """``size`` distinct pseudo-words of 1-4 syllables."""
    rng = np.random.default_rng([seed, 1])
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n_syl = int(rng.integers(1, 5))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))]
            + _VOWELS[rng.integers(len(_VOWELS))]
            + _CODAS[rng.integers(len(_CODAS))]
            for _ in range(n_syl)
        )
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_p(n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return p / p.sum()


def _render(words: list[str], rng: np.random.Generator) -> str:
    """Words → text with sentences and paragraph breaks."""
    out: list[str] = []
    since_stop = 0
    for w in words:
        since_stop += 1
        if since_stop == 1:
            w = w.capitalize()
        out.append(w)
        if since_stop >= 6 and rng.random() < 0.12:
            out[-1] += "."
            since_stop = 0
            if rng.random() < 0.15:
                out[-1] += "\n\n"
                continue
        out[-1] += " "
    return "".join(out).strip() + "."


def _draw_words(rng, vocab, p, n_chars) -> list[str]:
    """Words whose rendered length (one separator each) is ~``n_chars``."""
    n = max(8, int(n_chars / 4))  # no pseudo-word is shorter than 2 letters
    words = [vocab[i] for i in rng.choice(len(vocab), size=n, p=p)]
    ends = np.cumsum([len(w) + 1 for w in words])
    return words[: max(8, int(np.searchsorted(ends, n_chars)))]


def _near_copy(words: list[str], by_len: dict[int, list[str]], rng) -> list[str]:
    out = list(words)
    n_edit = max(1, int(round(len(out) * DUP_EDIT_FRAC)))
    for i in rng.choice(len(out), size=n_edit, replace=False):
        pool = by_len[len(out[i])]
        out[i] = pool[int(rng.integers(len(pool)))]
    return out


def cluster_sizes(n_clusters: int, hot: int) -> list[int]:
    """Members per planted cluster: one hot cluster of ``hot``, the rest
    Zipf by rank (20, 10, 6, 5, 4, 3, ...), at least 2."""
    if n_clusters <= 0:
        return []
    return [hot] + [max(2, 20 // r) for r in range(1, n_clusters)]


def doc_lengths(n: int, rng) -> np.ndarray:
    """Lognormal lengths taken at fixed quantiles, in seeded order: the
    seed moves content, not the corpus's total size."""
    dist = NormalDist(np.log(LEN_MEDIAN_CHARS), LEN_SIGMA)
    q = np.exp([dist.inv_cdf((i + 0.5) / n) for i in range(n)])
    return rng.permutation(np.clip(q, LEN_MIN_CHARS, LEN_MAX_CHARS))


def generate(
    seed: int,
    n_docs: int,
    *,
    n_clusters: int = 0,
    hot_cluster: int = 0,
    max_dup_chars: int = 3000,
) -> list[Doc]:
    """``n_docs`` unique documents plus, when ``n_clusters`` > 0, planted
    near-duplicate clusters (each cluster = a base document already in the
    corpus + its copies).  Duplicated bases are capped at ``max_dup_chars``
    so the hot cluster stays a few chunks wide."""
    rng = np.random.default_rng([seed, 2])
    vocab = vocabulary(seed)
    p = _zipf_p(len(vocab))
    by_len: dict[int, list[str]] = {}
    for w in vocab:
        by_len.setdefault(len(w), []).append(w)

    lengths = doc_lengths(n_docs, rng)
    types = rng.choice(len(DOC_TYPES), size=n_docs, p=DOC_TYPE_P)
    word_lists = [_draw_words(rng, vocab, p, n) for n in lengths]
    docs = [
        Doc(f"doc{i:05d}.txt", ".txt", DOC_TYPES[t], _render(ws, rng))
        for i, (ws, t) in enumerate(zip(word_lists, types))
    ]

    sizes = cluster_sizes(n_clusters, hot_cluster)
    bases = rng.choice(n_docs, size=len(sizes), replace=False) if sizes else []
    for c, (b, size) in enumerate(zip(bases, sizes)):
        ends = np.cumsum([len(w) + 1 for w in word_lists[b]])
        base_words = word_lists[b][: max(8, int(np.searchsorted(ends, max_dup_chars)))]
        base_rng = np.random.default_rng([seed, 3, c])
        base_text = _render(base_words, base_rng)
        docs[b] = Doc(docs[b].file_name, ".txt", docs[b].document_type, base_text, c)
        for j in range(1, size):
            copy_rng = np.random.default_rng([seed, 4, c, j])
            words = _near_copy(base_words, by_len, copy_rng)
            # same render seed as the base: identical punctuation and
            # breaks, so only the swapped words differ
            text = _render(words, np.random.default_rng([seed, 3, c]))
            docs.append(
                Doc(f"dup{c:04d}_{j:03d}.txt", ".txt", docs[b].document_type, text, c)
            )
    return docs


def queries(seed: int, docs: list[Doc], n: int, *, span_words: int = 40) -> list[dict]:
    """A seeded query stream: each query is a ``span_words``-word span of a
    random document.  Most are RAG prompts; a minority are searches with a
    ``search_term`` (a word of the span) or ``document_type`` post-filter."""
    rng = np.random.default_rng([seed, 5])
    out = []
    for _ in range(n):
        d = docs[int(rng.integers(len(docs)))]
        words = d.text.split()
        lo = int(rng.integers(max(1, len(words) - span_words + 1)))
        text = " ".join(words[lo : lo + span_words])
        r = rng.random()
        q = {"text": text, "kind": "rag", "search_term": None, "document_type": None}
        if r < 0.1:
            span = text.split()
            q["kind"] = "search"
            q["search_term"] = span[int(rng.integers(len(span)))].strip(".").lower()
        elif r < 0.2:
            q["kind"] = "search"
            q["document_type"] = DOC_TYPES[int(rng.integers(len(DOC_TYPES)))]
        out.append(q)
    return out


def corpus_bytes(docs: list[Doc]) -> int:
    """UTF-8 bytes of all source text."""
    return sum(len(d.text.encode("utf-8")) for d in docs)


def write_parquet(docs: list[Doc], path: str) -> None:
    """The documents as one parquet file with the columns the engine's
    loader produces (file_path, file_type, file_name, text, hash,
    document_type)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "file_path": [f"corpus/{d.file_name}" for d in docs],
            "file_type": [d.file_type for d in docs],
            "file_name": [d.file_name for d in docs],
            "text": [d.text for d in docs],
            "hash": [d.hash for d in docs],
            "document_type": [d.document_type for d in docs],
        }
    )
    pq.write_table(table, path)
