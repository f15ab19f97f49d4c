"""Text chunking — the reference's write-path splitters re-expressed
on DataFrames.

T3 FixedSizeTextSplitter (reference document_processor.py:368-408):
  - step = chunk_size - chunk_overlap, clamped to ≥1 if overlap≥size
    (reference :375-377, config validator config.py:35-39)
  - whole text .strip()'d first; empty docs dropped (:393-397)
  - window starts at 0, len(text), step — i.e. range(0, len, step)
  - each piece [start : start+chunk_size] is .strip()'d BEFORE the
    emptiness check; empty pieces dropped silently (:400-403)
  - parent metadata copied onto every chunk

Implemented with pure Catalyst builtins:
posexplode(filter(transform(sequence(...)))) + substr + strip. No
Python in the loop → whole-stage codegen, linear scan, embarrassingly
parallel across documents at any scale. The
explode multiplies rows ~len/step ×, which is exactly the data
amplification the pipeline needs — no shuffle until a downstream agg.

T4 PDF page-aware splitter (reference document_processor.py:411-477):
  marker-offset bookkeeping is inherently sequential per document →
  one Arrow-batched pandas UDF returning array<struct<chunk,page>>,
  exploded JVM-side afterwards.
"""

from __future__ import annotations

import re
import uuid

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from vectordb_light_spark.session import quote_ident, sql_over
from vectordb_light_spark.sql import ensure_sql_functions

DEFAULT_CHUNK_SIZE = 1200  # reference config.py:26
DEFAULT_CHUNK_OVERLAP = 600  # reference config.py:27


def chunk_step(chunk_size: int, chunk_overlap: int) -> int:
    """step = size - overlap, clamped ≥1 (reference
    document_processor.py:375-377)."""
    return max(chunk_size - chunk_overlap, 1)


#: Python-str.strip() whitespace class for Java regex: the Unicode
#: White_Space property (NBSP, NEL, U+2000 block, …) plus \x1c-\x1f,
#: which Python treats as whitespace but Unicode does not. Java's \s
#: alone is ASCII-only and would keep e.g. a lone NBSP chunk that the
#: reference drops (found by hypothesis, tests/test_properties.py).
_PY_WS = r"[\p{IsWhite_Space}\x1c-\x1f]"
#: Python-``str.strip()`` as a ``regexp_replace`` pattern, a raw SQL
#: literal (reference document_processor.py:393,400 strips all Python
#: whitespace)
_PY_STRIP_SQL = f"r'^{_PY_WS}+|{_PY_WS}+$'"


def fixed_size_chunks_sql(
    source: str,
    columns: list[str],
    *,
    text_col: str = "text",
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    chunk_overlap: int = DEFAULT_CHUNK_OVERLAP,
    out_col: str = "chunk",
    index_col: str = "chunk_index",
) -> str:
    """The T3 chunk rule as one SELECT over the relation ``source``
    (a view or CTE name) whose columns are ``columns``: see
    :func:`split_fixed_size` for its output. ``build_chunks`` embeds
    the same text, so the rule has one copy.

    Each row's kept pieces are built as one array — a transform over
    the window starts, then a filter dropping the empty ones — and
    numbered by ``posexplode``, so the plan is map-only: no window, no
    exchange. The stripped text stages once: the piece lambda reads the
    column instead of re-running the strip regex. No emptiness filter:
    an empty or null text yields no kept piece, so posexplode emits
    nothing for it. The array goes to posexplode as an expression, not
    a staged column: on a column, Catalyst infers a size() > 0 filter
    below the generator and would build every row's pieces twice."""
    step = chunk_step(chunk_size, chunk_overlap)
    keep = "".join(f"{quote_ident(c)}, " for c in columns if c != text_col)
    out, idx = quote_ident(out_col), quote_ident(index_col)
    pieces = (
        f"filter(transform(sequence(0, greatest(length(__text) - 1, 0), {step}), "
        f"s -> named_struct('chunk_start', s, '{out_col}', "
        f"regexp_replace(substr(__text, s + 1, {int(chunk_size)}), {_PY_STRIP_SQL}, ''))), "
        f"p -> p.{out} != '')"
    )
    return (
        f"SELECT {keep}__p.chunk_start, __p.{out} AS {out}, {idx} FROM ("
        f"SELECT {keep}posexplode({pieces}) AS ({idx}, __p) FROM ("
        f"SELECT {keep}regexp_replace({quote_ident(text_col)}, {_PY_STRIP_SQL}, '') AS __text "
        f"FROM {source}))"
    )


def split_fixed_size(
    df: DataFrame,
    *,
    text_col: str = "text",
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    chunk_overlap: int = DEFAULT_CHUNK_OVERLAP,
    partition_cols: list[str] | None = None,
    out_col: str = "chunk",
    index_col: str = "chunk_index",
) -> DataFrame:
    """Explode each row into overlapping fixed-size character chunks.

    Returns the input columns (text_col dropped) plus ``chunk_start``
    (offset into the stripped text), ``out_col`` (the stripped chunk)
    and ``index_col`` (0-based among this row's kept chunks, ordered
    by offset). One ``spark.sql`` text
    (:func:`fixed_size_chunks_sql`); ``partition_cols`` is accepted
    and ignored: numbering is per row.
    """
    view = f"chunk_src_{uuid.uuid4().hex}"
    return sql_over(
        df, view,
        fixed_size_chunks_sql(
            view, df.columns, text_col=text_col, chunk_size=chunk_size,
            chunk_overlap=chunk_overlap, out_col=out_col, index_col=index_col,
        ),
    )


_PAGE_CHUNK_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("chunk", T.StringType()),
            T.StructField("page_number", T.IntegerType()),
        ]
    )
)

_PAGE_MARKER = re.compile(r"\[\[page(\d+)\]\]")


def _page_step(chunk_size: int, chunk_overlap: int) -> int:
    """step = size - overlap with no ≥1 clamp (reference
    document_processor.py:411-477); the reference's config rejects
    overlap ≥ size (config.py:35-39), and so does this."""
    step = chunk_size - chunk_overlap
    if step <= 0:
        raise ValueError("chunk_overlap must be < chunk_size")
    return step


def split_pages(text: str | None, chunk_size: int, chunk_overlap: int) -> list[tuple[str, int]] | None:
    """The PDF page-aware splitter on one text (reference T4,
    document_processor.py:411-477).

    Semantics replicated exactly:
      - ``[[pageN]]`` markers located; positions recorded against the
        marker-free text (cumulative marker-length offset subtraction)
      - text chunked WITHOUT a leading global strip (unlike T3)
      - iteration: start = 0; while start < len; start += size-overlap
      - chunk attributed to the last marker at-or-before its start;
        no marker before it → page 1 (:440-448)
      - empty-after-strip chunks dropped
    """
    if text is None:
        return None
    step = _page_step(chunk_size, chunk_overlap)
    markers: list[tuple[int, int]] = []
    offset = 0
    for m in _PAGE_MARKER.finditer(text):
        markers.append((m.start() - offset, int(m.group(1))))
        offset += len(m.group(0))
    clean = _PAGE_MARKER.sub("", text)
    out: list[tuple[str, int]] = []
    start = 0
    while start < len(clean):
        piece = clean[start : start + chunk_size].strip()
        if piece:
            page = 1
            for pos, pg in reversed(markers):
                if pos <= start:
                    page = pg
                    break
            out.append((piece, page))
        start += step
    return out


def make_page_split_udf():
    """Arrow-batched pandas UDF ``(text, chunk_size, chunk_overlap) →
    array<struct<chunk, page_number>>`` over :func:`split_pages`;
    registered for SQL as ``vdb_page_split``
    (:func:`~vectordb_light_spark.sql.ensure_sql_functions`)."""

    @pandas_udf(_PAGE_CHUNK_SCHEMA)
    def page_split(texts: pd.Series, sizes: pd.Series, overlaps: pd.Series) -> pd.Series:
        return pd.Series(
            [split_pages(t, int(s), int(o)) for t, s, o in zip(texts, sizes, overlaps)],
            index=texts.index,
        )

    return page_split


def pdf_page_chunks_sql(
    source: str,
    columns: list[str],
    *,
    text_col: str = "text",
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    chunk_overlap: int = DEFAULT_CHUNK_OVERLAP,
    partition_cols: list[str] | None = None,
) -> str:
    """The T4 page split as one SELECT over the relation ``source``
    (columns ``columns``): see :func:`split_pdf_pages`. Needs the
    session's ``vdb_page_split`` function.

    The explode is ``posexplode_outer`` plus a not-null filter: a plain
    ``posexplode`` of the UDF column makes Catalyst infer a
    ``size(__chunks) > 0`` filter and push it below the generator,
    which plans a second run of the splitter UDF."""
    _page_step(chunk_size, chunk_overlap)
    part = partition_cols or [c for c in columns if c != text_col]
    keep = "".join(f"{quote_ident(c)}, " for c in part)
    return (
        f"SELECT {keep}chunk_index, __c.chunk AS chunk, __c.page_number AS page_number "
        f"FROM (SELECT *, posexplode_outer(__chunks) AS (chunk_index, __c) FROM ("
        f"SELECT *, vdb_page_split({quote_ident(text_col)}, {int(chunk_size)}, "
        f"{int(chunk_overlap)}) AS __chunks FROM {source})) WHERE __c IS NOT NULL"
    )


def split_pdf_pages(
    df: DataFrame,
    *,
    text_col: str = "text",
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    chunk_overlap: int = DEFAULT_CHUNK_OVERLAP,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Apply the page-aware splitter and explode to one row per chunk:
    ``partition_cols`` (default: every column but ``text_col``), then
    ``chunk_index``, ``chunk`` and ``page_number``. One ``spark.sql``
    text (:func:`pdf_page_chunks_sql`)."""
    view = f"pages_src_{uuid.uuid4().hex}"
    text = pdf_page_chunks_sql(
        view, df.columns, text_col=text_col, chunk_size=chunk_size,
        chunk_overlap=chunk_overlap, partition_cols=partition_cols,
    )
    ensure_sql_functions(df.sparkSession)
    return sql_over(df, view, text)


def split_token_windows(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Fixed-TOKEN-count windows with stride — the standard LLM
    pre-tokenization chunking (context-window sized slices with
    window−stride tokens of overlap), vs :func:`split_fixed_size`'s
    character windows. Returns (id, window_index int, n_tokens int,
    window_hash md5-of-joined-tokens); the trailing window may be
    short, zero-token docs emit nothing.

    All codegen builtins (split/filter/sequence/slice/md5) staged so
    the tokenize runs once per row: scan → project → explode — no
    shuffle, no Python. At 100 TB this is a map-only stage whose
    output rows ≈ total_tokens/stride.
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda x: x != "",
    )
    staged = df.select(F.col(id_col), toks.alias("__toks"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("__toks") - 1, F.lit(0)), F.lit(stride)
    )
    exploded = staged.select(
        id_col, "__toks", F.explode(starts).alias("__start")
    )
    win = F.slice(F.col("__toks"), F.col("__start") + 1, F.lit(window))
    return (
        exploded.select(
            id_col,
            (F.col("__start") / stride).cast("int").alias("window_index"),
            F.size(win).cast("int").alias("n_tokens"),
            F.md5(F.array_join(win, " ")).alias("window_hash"),
        )
        .where(F.col("n_tokens") > 0)
    )


def split_content_defined(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    divisor: int = 64,
) -> DataFrame:
    """Content-defined chunking (the Rabin/gear CDC family — LBFS,
    Muthitacharoen et al. 2001 — as dedup-friendly corpus chunking):
    cut after every character position whose trailing ``k``-gram
    rolling hash satisfies ``h % divisor == divisor - 1``, giving
    chunks that average ``divisor`` chars whose boundaries depend only
    on LOCAL content. The property fixed-size chunking lacks: insert
    or delete a prefix and every boundary after the edit re-aligns, so
    chunk-level dedup (hash-groupBy over the output) still matches the
    unedited copies — shifting survives. No min/max clamp: the basic
    hash-condition rule keeps every boundary decision position-
    independent, which is also what makes an exact SQL twin possible.

    Plan shape: char codes stage once (functions/text.py staging
    rule), per-position k-gram hashes and the boundary filter are
    higher-order builtins over that array, and chunks slice the
    original text between consecutive boundaries — everything inside
    one map-side projection chain over the scan, then one posexplode.
    No shuffle (callers group the output as they need), no UDF, no
    float. Hash = the winnowing polynomial (base 257 mod 2^31−1), so
    the twin replays it with list_reduce.

    Returns ``(id, chunk_idx, chunk)`` with 1-based chunk_idx;
    concatenating chunks in order reproduces the document exactly.
    Documents shorter than ``k`` (including empty) come back as one
    chunk."""
    from vectordb_light_spark.functions.text import (
        char_codes,
        kgram_hashes_from_codes,
    )

    t = F.col(text_col)
    n = F.length(t)
    # char codes stage FIRST: kgram_hashes_from_codes references its
    # input 3 times (starts, span, slice) — inlined, the O(n) code
    # extraction would re-run per position, turning the hash pass
    # O(n²) per document (measured 12x on the sf0.01 corpus)
    staged_codes = df.select(
        F.col(id_col), t, char_codes(t).alias("__codes")
    )
    staged = staged_codes.select(
        F.col(id_col),
        t,
        kgram_hashes_from_codes(F.col("__codes"), k).alias("__hs"),
    )
    # gram starting at 1-based s covers chars [s, s+k-1]: cut after
    # position i+k for the 0-based transform index i; drop cuts at or
    # past the end (a cut at n is a no-op and would emit "" chunks)
    bounds = F.filter(
        F.transform(
            F.col("__hs"),
            lambda h, i: F.when(
                h % divisor == divisor - 1, i + k
            ).otherwise(F.lit(-1)),
        ),
        lambda x: (x > 0) & (x < n) & (n >= k),
    )
    # the boundary array MUST stage before the chunk lambda: element_at
    # inside the transform would re-run the filter+transform chain per
    # chunk per reference (the module-header staging rule)
    staged_b = staged.select(
        F.col(id_col),
        t,
        F.concat(F.array(F.lit(0)), bounds, F.array(n)).alias("__b"),
    )
    b = F.col("__b")
    chunks = F.transform(
        F.sequence(F.lit(1), F.size(b) - 1),
        lambda i: t.substr(
            F.element_at(b, i) + 1,
            F.element_at(b, i + 1) - F.element_at(b, i),
        ),
    )
    return staged_b.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx0", "chunk"),
    ).select(
        F.col(id_col),
        (F.col("chunk_idx0") + 1).cast("int").alias("chunk_idx"),
        "chunk",
    )
