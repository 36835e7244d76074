"""PDF sink (SURVEY §2.1 S9, api.py:256-342 / 761-821).

Cleanup (HTML unescape, ASCII and control-char scrubs, caps), chunking
and render all run in plain Python inside the sink's one
``mapPartitions`` pass, so each row crosses into a Python worker once.

The render itself is the pure-Python PDF 1.4 writer in
``sinks/pdfwriter.py`` — real, viewer-openable PDFs with no external
dependency (the reference uses fpdf, absent in this container).
"""

from __future__ import annotations

import html
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parquet_extractor_spark.constants import (
    PDF_CHUNK_SIZE,
    PDF_CONTENT_CAP,
    PDF_TITLE_CAP,
)
from parquet_extractor_spark.functions.text import NON_ASCII_RE
from parquet_extractor_spark.sinks.markdown import write_rows
from parquet_extractor_spark.sinks.pdfwriter import render_pdf

_NON_ASCII = re.compile(NON_ASCII_RE)
_CONTROL_CHARS = re.compile(r"[\x00-\x08\x0B\x0C\x0E-\x1F]")


def pdf_ready(title: str | None, content: str | None) -> tuple[str, str]:
    """The reference's pre-render cleanup: title ASCII scrub to "_"
    (api.py:277) and 80-char cap (api.py:271); content HTML unescape
    (api.py:312), ASCII scrub to " ", control-char scrub except
    tab/newline/CR (api.py:802) and 50k cap (api.py:327). Both regexes
    match per code point and both caps count code points, as Spark's
    regexp_replace and substring do."""
    clean_title = _NON_ASCII.sub("_", title or "")[:PDF_TITLE_CAP]
    clean_content = _CONTROL_CHARS.sub(
        " ", _NON_ASCII.sub(" ", html.unescape(content or ""))
    )[:PDF_CONTENT_CAP]
    return clean_title, clean_content


def _chunks(text: str, size: int = PDF_CHUNK_SIZE) -> list[str]:
    """1000-char chunking before multi_cell render (api.py:793)."""
    return [text[i : i + size] for i in range(0, len(text), size)] or [""]


def render_pdf_bytes(title: str, doc_id: str, content: str) -> bytes:
    """Render one document to real PDF bytes: bold title, Document ID
    line, then the 1000-char chunks in the reference's render order
    (api.py:774-796) — via the dependency-free PDF 1.4 writer."""
    return render_pdf(title, doc_id, _chunks(content))


def _render_row(row) -> bytes:
    title, content = pdf_ready(row["title"], row["content"])
    return render_pdf_bytes(title, row["doc_id"] or "", content)


def write_pdfs(
    df: DataFrame,
    out_dir: str,
    filename_col: str = "filename",
    title_col: str = "title",
    id_col: str = "doc_id",
    content_col: str = "content",
) -> dict:
    """One-job PDF writer with the markdown sink's filename and
    per-row error contract; cleanup and render both run in the task."""
    work = df.select(
        F.col(filename_col).alias("filename"),
        F.col(title_col).alias("title"),
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(content_col).alias("content"),
    )
    written, _, failed = write_rows(work, out_dir, _render_row)
    return {"written": written, "failed": failed}
