"""Directory scan + per-format text extraction (SURVEY §2.1 S1-S12).

The reference extracts 12 file formats with per-file Python loaders
dispatched on extension, dropping (never failing on) unsupported,
empty, or erroring files (reference document_processor.py:242-288);
its thread/process-pool harness (S13, :291-364) is subsumed here by
Spark partition parallelism.

Spark shape: ``spark.read.format("binaryFile")`` scans the directory
(columns path, modificationTime, length, content) — distributed
listing + reading, no driver loop — then ONE Arrow-batched pandas UDF
dispatches on extension and decodes bytes → text. Extraction is pure
(bytes in, string out), so the stage is embarrassingly parallel and
retry-safe at any scale; the reference's retry/checkpoint machinery
(vector_db_creator.py:89-144) collapses into Spark task retries.

Per-format semantics mirrored from the reference:
  - txt/md: decode with encoding fallback utf-8 → utf-8-sig → latin-1
    → cp1252 (document_processor.py:93-102,230-239). NOT
    ``spark.read.text`` — that has no fallback and splits lines.
  - csv: parsed with the csv module, each row's cells joined by " ",
    rows by "\\n" — CSV is flattened to prose, not loaded as a table
    (document_processor.py:105-117).
  - html: tag-stripped text with " " separators (document_processor.py:
    120-130). The reference uses BeautifulSoup+lxml; this container
    has neither, so a stdlib HTMLParser implementation with the same
    intent (script/style dropped, text nodes joined by " ") stands in.
  - eml: Subject + text/plain parts + tag-stripped text/html parts,
    joined by "\\n" (document_processor.py:133-164), stdlib email.
  - pdf/docx/msg/xls/xlsx/xlsm/rtf: prefer the reference's external
    parsers (fitz, docx2txt, extract_msg, xlrd, openpyxl, striprtf)
    when installed, and fall back to pure-Python implementations
    (sources/pdf_text.py, office_text.py, cfb.py) when not — NO
    format is parser-gated; every supported extension extracts in a
    bare container. The PDF path preserves the reference's
    ``[[pageN]]`` marker convention (document_processor.py:76-84) so
    the page-aware chunker (T4) stays format-agnostic.

Unsupported/empty/erroring files surface in a ``_rejects``-style
side output (reason column) instead of just log lines — same drop
policy, but queryable (S12 upgrade).
"""

from __future__ import annotations

import csv
import io
import os
from collections.abc import Callable, Iterator
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: The reference's supported extensions (reference constants.py:112-115).
SUPPORTED_EXTENSIONS = (
    ".pdf", ".docx", ".txt", ".csv", ".html", ".eml",
    ".msg", ".xls", ".xlsx", ".xlsm", ".rtf", ".md",
)

#: Decode attempts, in the reference's order (document_processor.py:94).
_ENCODINGS = ("utf-8", "utf-8-sig", "latin-1", "cp1252")


def _decode(data: bytes) -> str | None:
    for enc in _ENCODINGS:
        try:
            return data.decode(enc)
        except UnicodeDecodeError:
            continue
    return None


def _extract_txt(data: bytes) -> str | None:
    text = _decode(data)
    return text if text and text.strip() else None


def _extract_csv(data: bytes) -> str | None:
    text = _decode(data)
    if text is None:
        return None
    rows = [" ".join(row) for row in csv.reader(io.StringIO(text, newline=""))]
    return "\n".join(rows) if rows else None


class _TextExtractor(HTMLParser):
    """Collect text nodes with the " "-separator behavior of
    ``soup.get_text(separator=" ")`` (reference
    document_processor.py:120-130).

    Two modes:

    - semantic (default): skip ``script``/``style`` contents — the
      text a reader sees; the pipeline default because JS/CSS tokens
      poison dedup shingles and embeddings.
    - parity: keep EVERY text node, including script/style contents
      and the whitespace-only nodes between tags, exactly as
      BeautifulSoup's ``get_text(separator=" ")`` concatenates its
      descendant strings (comments, doctype, and processing
      instructions excluded — bs4's ``interesting_string_types``
      default). Use when hash-parity with the reference's output on
      real HTML corpora matters more than text quality.
    """

    _SKIP = {"script", "style"}

    def __init__(self, *, parity: bool = False) -> None:
        super().__init__(convert_charrefs=True)
        self.pieces: list[str] = []
        self._skip_depth = 0
        self._parity = parity

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in self._SKIP:
            self._skip_depth += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in self._SKIP and self._skip_depth:
            self._skip_depth -= 1

    def handle_data(self, data: str) -> None:
        if data and (self._parity or not self._skip_depth):
            self.pieces.append(data)


def strip_html(markup: str, *, parity: bool = False) -> str:
    parser = _TextExtractor(parity=parity)
    parser.feed(markup)
    parser.close()
    return " ".join(parser.pieces)


def _extract_html(data: bytes) -> str | None:
    text = _decode(data)
    if text is None:
        return None
    out = strip_html(text)
    return out if out and out.strip() else None


def _extract_eml(data: bytes) -> str | None:
    import email
    from email import policy

    msg = email.message_from_bytes(data, policy=policy.default)
    parts: list[str] = []
    subject = msg.get("Subject", "")
    if subject:
        parts.append(f"Subject: {subject}")
    if msg.is_multipart():
        for part in msg.walk():
            ctype = part.get_content_type()
            if ctype == "text/plain":
                payload = part.get_content()
                if isinstance(payload, str) and payload.strip():
                    parts.append(payload)
            elif ctype == "text/html":
                payload = part.get_content()
                if isinstance(payload, str):
                    text = strip_html(payload)
                    if text.strip():
                        parts.append(text)
    else:
        payload = msg.get_content()
        if isinstance(payload, str) and payload.strip():
            parts.append(payload)
    return "\n".join(parts) if parts else None


def _extract_pdf(data: bytes) -> str | None:
    """Per-page extract with [[pageN]] markers (reference
    document_processor.py:76-84); blank pages skipped. PyMuPDF when
    installed (layout-aware fidelity); otherwise the pure-Python
    parser (sources/pdf_text.py) — S2 is NOT parser-gated: .pdf files
    extract in this container either way."""
    try:
        import fitz  # layout-aware when available
    except ImportError:
        from vectordb_light_spark.sources.pdf_text import extract_pdf_text

        return extract_pdf_text(data)

    doc = fitz.open(stream=data, filetype="pdf")
    pages = []
    for page in doc:
        text = page.get_text()
        if text.strip():
            pages.append(f"[[page{page.number + 1}]]{text}")
    doc.close()
    return "".join(pages) if pages else None


def _extract_docx(data: bytes) -> str | None:
    """docx2txt when installed; otherwise the stdlib OPC/XML parser
    (sources/office_text.py) — S3 is not parser-gated."""
    try:
        import docx2txt
    except ImportError:
        from vectordb_light_spark.sources.office_text import docx_text

        return docx_text(data)

    text = docx2txt.process(io.BytesIO(data))
    return text if text and text.strip() else None


def _extract_rtf(data: bytes) -> str | None:
    """striprtf when installed; otherwise the from-scratch tokenizer
    (sources/office_text.py) — S11 is not parser-gated."""
    try:
        from striprtf.striprtf import rtf_to_text
    except ImportError:
        from vectordb_light_spark.sources.office_text import rtf_text

        return rtf_text(data)

    raw = _decode(data)
    if raw is None:
        return None
    text = rtf_to_text(raw)
    return text if text and text.strip() else None


def _extract_msg_fmt(data: bytes) -> str | None:
    """extract_msg when installed; otherwise the pure-Python [MS-CFB]
    property-stream reader (sources/cfb.py) — S8 is not parser-gated."""
    try:
        import extract_msg
    except ImportError:
        from vectordb_light_spark.sources.cfb import msg_text

        return msg_text(data)

    msg = extract_msg.Message(io.BytesIO(data))
    parts = []
    if msg.subject:
        parts.append(f"Subject: {msg.subject}")
    if msg.body:
        parts.append(msg.body)
    msg.close()
    return "\n".join(parts) if parts else None


def _extract_xls(data: bytes) -> str | None:
    """xlrd when installed; otherwise the pure-Python BIFF8 cell
    reader (sources/cfb.py) — S9 is not parser-gated."""
    try:
        import xlrd
    except ImportError:
        from vectordb_light_spark.sources.cfb import xls_text

        return xls_text(data)

    book = xlrd.open_workbook(file_contents=data)
    lines = []
    for sheet in book.sheets():
        for r in range(sheet.nrows):
            vals = [
                str(sheet.cell(r, c).value)
                for c in range(sheet.ncols)
                if sheet.cell(r, c).value is not None
                and str(sheet.cell(r, c).value).strip()
            ]
            if vals:
                lines.append(" ".join(vals))
    return "\n".join(lines) if lines else None


def _extract_xlsx(data: bytes) -> str | None:
    """openpyxl when installed; otherwise the stdlib SpreadsheetML
    parser (sources/office_text.py) — S10 is not parser-gated."""
    try:
        from openpyxl import load_workbook
    except ImportError:
        from vectordb_light_spark.sources.office_text import xlsx_text

        return xlsx_text(data)

    wb = load_workbook(io.BytesIO(data), data_only=True, read_only=True)
    lines = []
    for name in wb.sheetnames:
        for row in wb[name].iter_rows():
            vals = [
                str(c.value) for c in row
                if c.value is not None and str(c.value).strip()
            ]
            if vals:
                lines.append(" ".join(vals))
    wb.close()
    return "\n".join(lines) if lines else None


#: extension → bytes-to-text extractor (reference LOADER_MAP,
#: document_processor.py:242-255).
EXTRACTORS: dict[str, Callable[[bytes], str | None]] = {
    ".pdf": _extract_pdf,
    ".docx": _extract_docx,
    ".txt": _extract_txt,
    ".csv": _extract_csv,
    ".html": _extract_html,
    ".eml": _extract_eml,
    ".msg": _extract_msg_fmt,
    ".xls": _extract_xls,
    ".xlsx": _extract_xlsx,
    ".xlsm": _extract_xlsx,
    ".rtf": _extract_rtf,
    ".md": _extract_txt,
}


def extract_bytes(path: str, data: bytes) -> tuple[str | None, str | None]:
    """Dispatch on extension; (text, reject_reason) — exactly one is
    non-None. Mirrors the reference's never-fail policy
    (document_processor.py:258-288)."""
    ext = os.path.splitext(path)[1].lower()
    fn = EXTRACTORS.get(ext)
    if fn is None:
        return None, "unsupported_extension"
    try:
        text = fn(data)
    except ImportError:
        return None, "missing_parser"
    except Exception as e:  # drop-on-error, never fail the job
        return None, f"error:{type(e).__name__}"
    if not text:
        return None, "no_content"
    return text, None


def scan_documents(spark: SparkSession, source_dir: str) -> DataFrame:
    """S1 directory scan: binaryFile source filtered to the 12
    supported extensions. Distributed file listing + reads; columns
    (path, modificationTime, length, content)."""
    glob = "*.{" + ",".join(e.lstrip(".") for e in SUPPORTED_EXTENSIONS) + "}"
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(source_dir)
    )


def extract_documents(scanned: DataFrame) -> DataFrame:
    """S2-S12: bytes → text + metadata projection (T1/T2).

    Output: file_path, file_type, file_name, modification_date, text,
    hash (sha-256 of extracted text, computed JVM-side), reject_reason
    (null for good rows). Filter ``reject_reason IS NULL`` for the
    clean documents; the complement is the reject report.

    One mapInPandas pass keeps (path, content) in a single Arrow batch
    and never ships bytes twice. creation_date is intentionally
    omitted: distributed filesystems don't expose ctime; the scan's
    modificationTime is authoritative (divergence from reference
    document_processor.py:61 noted).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts, reasons = [], []
            for path, data in zip(pdf["path"], pdf["content"]):
                text, reason = extract_bytes(path, bytes(data) if data is not None else b"")
                texts.append(text)
                reasons.append(reason)
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "modificationTime": pdf["modificationTime"],
                    "text": pd.array(texts, dtype="object"),
                    "reject_reason": pd.array(reasons, dtype="object"),
                }
            )

    extracted = scanned.mapInPandas(
        run,
        schema="path string, modificationTime timestamp, "
        "text string, reject_reason string",
    )
    return extracted.select(
        F.col("path").alias("file_path"),
        F.lower(F.regexp_extract("path", r"(\.[^./\\]+)$", 1)).alias("file_type"),
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        F.col("modificationTime").alias("modification_date"),
        "text",
        F.when(F.col("text").isNotNull(), F.sha2(F.col("text"), 256)).alias("hash"),
        F.lit("document").alias("document_type"),
        "reject_reason",
    )


def load_directory(spark: SparkSession, source_dir: str) -> tuple[DataFrame, DataFrame]:
    """End-to-end S1→S12: (documents, rejects) DataFrames.

    The extraction is materialized once, before the docs/rejects split
    that both consume, as a private local checkpoint: a cache would be
    served to a later load of the same directory, stale files and all.
    """
    extracted = extract_documents(scan_documents(spark, source_dir))
    extracted = extracted.localCheckpoint(eager=True)
    docs = extracted.where(F.col("reject_reason").isNull()).drop("reject_reason")
    rejects = extracted.where(F.col("reject_reason").isNotNull()).select(
        "file_path", "file_type", "reject_reason"
    )
    return docs, rejects
