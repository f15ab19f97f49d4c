"""Reference results computed in the benchmark process, with numpy only.

Each function re-derives what the engine must return from the generated
documents or from the stored vectors (read with pyarrow, not Spark):

- the chunk count of the 1200/600 fixed-size splitter;
- exact top-k with the reference's post-top-k threshold and filters;
- near-duplicate clusters by union-find over exact cosine pairs.
"""

from __future__ import annotations

import os

import numpy as np

CHUNK_SIZE = 1200
CHUNK_OVERLAP = 600


def chunk_texts(text: str, size: int = CHUNK_SIZE, overlap: int = CHUNK_OVERLAP) -> list[str]:
    """The engine's fixed-size split of one document: strip, windows of
    ``size`` chars every ``size - overlap`` chars, strip each, drop empty.
    Valid for the generator's ASCII text, whose normalization keeps every
    chunk non-empty."""
    step = max(size - overlap, 1)
    body = text.strip()
    if not body:
        return []
    pieces = (body[s : s + size].strip() for s in range(0, max(len(body) - 1, 0) + 1, step))
    return [p for p in pieces if p]


def expected_chunks(texts: list[str]) -> int:
    return sum(len(chunk_texts(t)) for t in texts)


def read_store(db_path: str, columns: list[str]) -> dict:
    """Columns of ``<db>/vectors`` via pyarrow; ``vector`` comes back as a
    float32 [n, dim] matrix."""
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(db_path, "vectors"), columns=columns)
    out = {}
    for c in columns:
        col = table.column(c).combine_chunks()
        if c == "vector":
            flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.float32)
            out[c] = flat.reshape(len(col), -1) if len(col) else flat.reshape(0, 0)
        else:
            out[c] = col.to_numpy(zero_copy_only=False)
    return out


def topk(
    mat: np.ndarray,
    ids: np.ndarray,
    q: np.ndarray,
    *,
    k: int,
    threshold: float,
    texts=None,
    doc_types=None,
    search_term: str | None = None,
    document_type: str | None = None,
) -> list[int]:
    """Row indices of the exact top-k in rank order: cosine (clipped to
    [0, 1]) descending, id ascending; then threshold, search-term and
    document-type filters on the k rows (never refilled)."""
    sims = np.clip(mat.astype(np.float64) @ q.astype(np.float64), 0.0, 1.0)
    order = np.lexsort((ids, -sims))[:k]
    keep = [i for i in order if sims[i] >= threshold]
    if search_term:
        needle = search_term.lower()
        keep = [i for i in keep if needle in str(texts[i]).lower()]
    if document_type:
        keep = [i for i in keep if doc_types[i] == document_type]
    return keep


def near_dup_labels(
    mat: np.ndarray, ids: np.ndarray, threshold: float, block: int = 1024
) -> tuple[np.ndarray, int]:
    """Union-find over all pairs with cosine >= ``threshold``.  Returns each
    row's component label (the minimum id in its component) and the number
    of pairs within 1e-9 of the threshold, where the engine's and numpy's
    summation order could disagree."""
    n = len(ids)
    parent = np.arange(n)

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    m = mat.astype(np.float64)
    borderline = 0
    for lo in range(0, n, block):
        sims = m[lo : lo + block] @ m.T
        borderline += int((np.abs(sims - threshold) < 1e-9).sum())
        ai, bj = np.nonzero(sims >= threshold)
        for a, b in zip(ai + lo, bj):
            if a < b:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    roots = np.array([find(i) for i in range(n)], dtype=np.int64)
    min_id = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(min_id, roots, ids.astype(np.int64))
    return min_id[roots], borderline // 2


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )
