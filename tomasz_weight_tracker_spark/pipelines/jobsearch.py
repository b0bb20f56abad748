"""W4: MHTML job-search ETL (SURVEY.md §2 S7/S8/F4/F5/T8/G4/A7/O3/S12,
§7.2 phase 4).

Page-snapshot .mhtml files -> MIME walk -> HTML text -> stateful block
capture between markers -> relative-date resolution + status
classification -> cross-file dedup -> two-level grouped sort -> report.

Spark-first split of labor (SURVEY §2.10):

- PER-DOCUMENT work (MIME parse, HTML strip, the marker-delimited
  block scan with its prev-line status fallback) is genuinely
  imperative and document-local -> ONE ``mapInPandas`` UDF, Arrow
  batched, one document per row in, one block per row out.  Each doc
  fits memory; 100 TB of snapshots parallelize per-file.
- CROSS-DOCUMENT work (cutoff filter P6, signature dedup A7, the
  grouping and two-level ordering O3, report S12) is native
  DataFrame ops — dedup and grouping shuffle on the signature/group
  key exactly once.

Reference behavior mirrored from utils/loose_thoughts.py:138-240 (the
block state machine), :41-49 (8-digit filename date), :161-168 +
198-222 (ordered keyword classification, "unsuccessful" before
"successful", prev-line fallback with line replacement, default
'Applied'), :227-238 (signature dedup), :57-71 (two-level sort).
"""

from __future__ import annotations

import datetime as dt
import re
from collections.abc import Iterator
from email import policy
from email.parser import BytesParser
from html.parser import HTMLParser

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DateType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..sources.paths import glob_paths

START_MARKER = "Your recent activity"
END_MARKER = "Show deleted jobs"
DAYS_AGO_RE = re.compile(r"(\d+)\s+day[^\s]*\s+ago", re.IGNORECASE)

# Order matters: "unsuccessful" must match before "successful"
# (utils/loose_thoughts.py:161-168).
KNOWN_STATUSES = [
    ("no longer considering", "No longer considering"),
    ("unsuccessful", "Unsuccessful"),
    ("successful", "Successful"),
    ("rejected", "Rejected"),
    ("viewed", "Viewed"),
    ("applied", "Applied"),
]

FILENAME_DATE_RE = re.compile(r"(\d{8})[^/]*\.mhtml$", re.IGNORECASE)


def classify_status(line: Column) -> Column:
    """G4 as a native chained-when column expression (first match wins,
    default 'Applied') — usable in pure-DataFrame pipelines; the block
    UDF applies the same table imperatively for prev-line fallback."""
    lower = F.lower(line)
    expr = F.when(lower.contains(KNOWN_STATUSES[0][0]), F.lit(KNOWN_STATUSES[0][1]))
    for keyword, label in KNOWN_STATUSES[1:]:
        expr = expr.when(lower.contains(keyword), F.lit(label))
    return expr.otherwise(F.lit("Applied"))


# ---------------------------------------------------------------------------
# Per-document imperative parsing (inside the mapInPandas UDF).


# Header/body split of a MIME message: first blank line in either CRLF
# or bare-LF convention (leftmost alternation = earliest occurrence).
_HDR_END_RE = re.compile(rb"\r\n\r\n|\n\n")
# Transfer encodings under which get_payload(decode=True) returns the
# body bytes verbatim.
_IDENTITY_CTE = (b"", b"7bit", b"8bit", b"binary")
_CHARSET_TOKEN_RE = re.compile(r"[A-Za-z0-9_.:+-]+\Z")
# HTML whose text extraction is provably a tag-split: only plain
# begin/end tags (no quotes or '&' anywhere, so no charrefs, comments,
# doctypes, processing instructions, or attribute values that could
# hide '<'/'>').  Anchored, each tag followed by a text run that can't
# contain '<': every character has exactly one way to match, so the
# match is linear-time even when it fails at the end (an unrolled
# ``(tag|text+)*`` backtracks exponentially over a long text run).
_SIMPLE_HTML_RE = re.compile(r"\A[^<&]*(?:<[a-zA-Z/][^<>\"'&]*>[^<&]*)*\Z")
_TAG_SPLIT_RE = re.compile(r"<[^>]*>")
_SKIP_TAG_RE = re.compile(r"</?(?:script|style|head|title|noscript)\b", re.I)


def _fast_parts(raw: bytes) -> list[tuple[bytes, str | None]] | None:
    """Header fast path for the overwhelmingly common case: a
    single-part message with simple headers and an identity transfer
    encoding.  ``email.BytesParser(policy=policy.default)`` costs
    ~670 us per document (measured, round 13) and >99% of a crawl's
    snapshots are plain single-part text/html, so the common case is
    decided from the raw header block instead.

    Returns the text/html parts as ``[(payload_bytes, charset)]`` (or
    ``[]`` when the message provably has no text/html part), and
    ``None`` whenever anything is unusual — multipart, folded or
    defective headers, quoted-printable/base64, RFC2231 params —
    so callers fall back to the stdlib parser.  The fast path never
    guesses: any doubt returns None.
    """
    m = _HDR_END_RE.search(raw)
    if m is None:
        return None
    ctype = None
    cte = b""
    for line in raw[: m.start()].splitlines():
        if line[:1] in (b" ", b"\t"):
            return None  # folded header: let email handle it
        name, sep, value = line.partition(b":")
        if not sep:
            return None  # defective header line
        lname = name.strip().lower()
        if lname == b"content-type":
            if ctype is not None:
                return None  # duplicate Content-Type
            ctype = value.strip()
        elif lname == b"content-transfer-encoding":
            cte = value.strip().lower()
    if cte not in _IDENTITY_CTE:
        return None
    if ctype is None:
        return []  # defaults to text/plain: no html part
    try:
        ctext = ctype.decode("ascii")
    except UnicodeDecodeError:
        return None
    mime, _, params = ctext.partition(";")
    mime = mime.strip().lower()
    if mime.startswith(("multipart/", "message/")):
        return None
    if mime != "text/html":
        return []
    charset = None
    for piece in params.split(";"):
        key, sep, val = piece.partition("=")
        if sep and key.strip().lower() == "charset":
            if charset is not None:
                return None  # duplicate charset param
            val = val.strip()
            if len(val) >= 2 and val[0] == '"' and val[-1] == '"':
                val = val[1:-1]
            if not _CHARSET_TOKEN_RE.match(val):
                return None  # quoting/RFC2231 oddities: slow path
            charset = val.lower()
    return [(raw[m.end() :], charset)]


class _TextExtractor(HTMLParser):
    """BS4-free HTML -> text: drops script/style/head/title/noscript
    content, joins remaining text nodes with newlines (the observable
    behavior of the reference's soup.get_text(separator='\\n') after
    decomposing those tags).  ``meta`` is a void element with no text:
    counting it as an open skipped element would drop everything after
    it."""

    SKIP = {"script", "style", "head", "title", "noscript"}

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.chunks: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in self.SKIP:
            self._skip_depth += 1

    def handle_endtag(self, tag):
        if tag in self.SKIP and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data):
        if self._skip_depth == 0:
            self.chunks.append(data)


def html_to_lines(html: bytes, charset: str | None) -> list[str]:
    decoded = html.decode(charset or "utf-8", errors="replace")
    if _SIMPLE_HTML_RE.match(decoded) and not _SKIP_TAG_RE.search(decoded):
        # Provably-simple HTML: the parser's data events are exactly the
        # non-empty runs between tags (~6 us vs ~315 us via HTMLParser).
        chunks = [t for t in _TAG_SPLIT_RE.split(decoded) if t]
    else:
        parser = _TextExtractor()
        parser.feed(decoded)
        chunks = parser.chunks
    text = "\n".join(chunks)
    return [ln.strip() for ln in text.splitlines() if ln.strip()]


def _html_parts(raw: bytes) -> list[tuple[bytes, str | None]]:
    """The non-empty text/html parts of a MIME document as (payload,
    charset): the header fast path when it decides, else the stdlib
    parser.  A charset Python has no text codec for reads as None
    (UTF-8)."""
    parts = _fast_parts(raw)
    if parts is None:
        msg = BytesParser(policy=policy.default).parsebytes(raw)
        parts = [
            (part.get_payload(decode=True), part.get_content_charset())
            for part in msg.walk()
            if part.get_content_type() == "text/html"
        ]
    return [(payload, _text_codec(charset)) for payload, charset in parts if payload]


def _text_codec(charset: str | None) -> str | None:
    try:
        b"x".decode(charset or "utf-8", errors="replace")
    except LookupError:  # no such codec, or not a text encoding
        return None
    return charset


def mhtml_text_lines(raw: bytes) -> list[str]:
    """S7: MIME walk -> concatenated clean text lines of all text/html
    parts (utils/loose_thoughts.py:138-153)."""
    lines: list[str] = []
    for payload, charset in _html_parts(raw):
        lines.extend(html_to_lines(payload, charset))
    return lines


def process_block(block: list[str], ref_date: dt.date) -> tuple[list[str], dt.date | None]:
    """F5 block transform: drop 'Update job' lines, resolve '<N> days
    ago' to dates, classify status with prev-line fallback (replacing
    the consumed previous line).  Returns (final lines, block date)."""
    out: list[str] = []
    block_date: dt.date | None = None
    for i, line in enumerate(block):
        if line.strip() == "Update job":
            continue
        m = DAYS_AGO_RE.search(line)
        if not m:
            out.append(line)
            continue
        days_ago = int(m.group(1))
        calc = ref_date - dt.timedelta(days=days_ago)
        block_date = calc
        lower = line.lower()
        verb = next((label for kw, label in KNOWN_STATUSES if kw in lower), None)
        from_prev = False
        if verb is None and i > 0:
            prev = block[i - 1].lower()
            verb = next((label for kw, label in KNOWN_STATUSES if kw in prev), None)
            from_prev = verb is not None
        if from_prev and out and out[-1] == block[i - 1]:
            out.pop()
        out.append(f"{verb or 'Applied'} on {calc.isoformat()}")
    return out, block_date


def capture_blocks(lines: list[str], ref_date: dt.date) -> list[tuple[list[str], dt.date]]:
    """F5 state machine: capture lines between the start/end markers;
    each 'Updated on ' line flushes one block."""
    blocks: list[tuple[list[str], dt.date]] = []
    capturing = False
    current: list[str] = []
    for line in lines:
        if START_MARKER in line:
            capturing = True
            continue
        if END_MARKER in line:
            break
        if not capturing:
            continue
        current.append(line)
        if line.startswith("Updated on "):
            final, block_date = process_block(current, ref_date)
            if block_date is not None:
                blocks.append((final, block_date))
            current = []
    return blocks


BLOCK_SCHEMA = StructType(
    [
        StructField("file_label", StringType()),
        StructField("block_date", DateType()),
        StructField("lines", ArrayType(StringType())),
        StructField("signature", StringType()),
    ]
)


def extract_blocks(binary: DataFrame) -> DataFrame:
    """F4/F5 core: per-document block extraction over any (path,
    content: binary) frame — file scans and generated documents share
    this path (the catalog's ``block_capture`` feeds it synthesized
    MIME blobs so the gate covers the UDF).

    Documents whose filename lacks the 8-digit date prefix are skipped
    (P9, utils/loose_thoughts.py:41-43)."""

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = []
            # zip over the raw column arrays: pandas iterrows() boxes a
            # Series per row (~100 us each), pure overhead here.
            for path, content in zip(batch["path"].values, batch["content"].values):
                m = FILENAME_DATE_RE.search(path)
                if not m:
                    continue
                try:
                    ref_date = dt.datetime.strptime(m.group(1), "%Y%m%d").date()
                except ValueError:
                    continue
                try:
                    lines = mhtml_text_lines(bytes(content))
                except Exception:
                    # One corrupt snapshot must not fail the whole scan —
                    # the reference logs and continues
                    # (utils/loose_thoughts.py:238-240); a 100 TB crawl
                    # ALWAYS contains malformed documents.
                    continue
                for final, block_date in capture_blocks(lines, ref_date):
                    rows.append(
                        {
                            "file_label": m.group(1),
                            "block_date": block_date,
                            "lines": final,
                            "signature": "\x1f".join(final),
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in BLOCK_SCHEMA.fields])

    return binary.select("path", "content").mapInPandas(extract, BLOCK_SCHEMA)


def parse_mhtml_snapshots(spark: SparkSession, path_glob: str) -> DataFrame:
    """S7 + F4/F5: binaryFile scan -> per-document block extraction."""
    return extract_blocks(spark.read.format("binaryFile").load(glob_paths(spark, path_glob)))


def dedup_blocks(blocks: DataFrame) -> DataFrame:
    """A7: cross-file signature dedup, first file wins (deterministic
    twin of the reference's ordered-set membership)."""
    w = Window.partitionBy("signature").orderBy("file_label", "block_date")
    return (
        blocks.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def grouped_report(blocks: DataFrame, cutoff_date: str | None = None) -> DataFrame:
    """P6 + O3: cutoff filter, group snapshots by their first line (the
    job identifier), sort snapshots within each group newest-first,
    sort groups by their newest snapshot's date, newest first.

    Returns (group_key, group_date, snapshots: array<struct>) ordered.
    """
    df = blocks.filter(F.size("lines") > 0)
    if cutoff_date is not None:
        df = df.filter(F.col("block_date") >= F.lit(cutoff_date))
    df = df.withColumn("group_key", F.element_at("lines", 1))
    snap = F.struct("block_date", "file_label", "lines")
    grouped = df.groupBy("group_key").agg(
        F.sort_array(F.collect_list(snap), asc=False).alias("snapshots")
    )
    grouped = grouped.withColumn(
        "group_date", F.element_at("snapshots", 1)["block_date"]
    )
    return grouped.select("group_key", "group_date", "snapshots").orderBy(
        F.col("group_date").desc(), "group_key"
    )


def render_report(grouped: DataFrame) -> list[str]:
    """S12: markdown-ish ordered report lines (driver-side; reports are
    human-scale by definition).

    Driver memory is bounded CONTRACTUALLY: the collect is capped at
    the first 1,000 groups, so pointing this at a big table cannot OOM
    the driver."""
    out: list[str] = []
    for r in grouped.limit(1000).collect():
        out.append(f"## {r.group_key}  ({r.group_date.isoformat()})")
        for snap in r.snapshots:
            out.append(f"- [{snap.file_label}]")
            out.extend(f"  {ln}" for ln in snap.lines)
        out.append("")
    return out


# ---------------------------------------------------------------------------
# S8: HTML table extraction (utils/loose_thoughts_TD2.py:41-60) — tables
# -> rows -> pipe-joined cell text, as array<struct> + explode.


class _TableExtractor(HTMLParser):
    """Collects <table> contents as lists of row-cell-text lists."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.tables: list[list[list[str]]] = []
        self._in_table = 0
        self._row: list[str] | None = None
        self._cell: list[str] | None = None

    def handle_starttag(self, tag, attrs):
        if tag == "table":
            self._in_table += 1
            if self._in_table == 1:
                self.tables.append([])
        elif self._in_table and tag == "tr":
            self._row = []
        elif self._in_table and tag in ("td", "th"):
            self._cell = []

    def handle_endtag(self, tag):
        if tag == "table" and self._in_table:
            self._in_table -= 1
        elif self._in_table and tag == "tr" and self._row is not None:
            self.tables[-1].append(self._row)
            self._row = None
        elif self._in_table and tag in ("td", "th") and self._cell is not None:
            if self._row is not None:
                self._row.append(" ".join("".join(self._cell).split()))
            self._cell = None

    def handle_data(self, data):
        if self._cell is not None:
            self._cell.append(data)


TABLE_ROW_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("table_idx", IntegerType()),
        StructField("row_idx", IntegerType()),
        StructField("cells", ArrayType(StringType())),
        StructField("row_text", StringType()),
    ]
)


def extract_html_tables(spark: SparkSession, path_glob: str) -> DataFrame:
    """S8: every <table> row of every text/html part of every document,
    one output row per table row with pipe-joined text (the reference's
    report format)."""
    binary = spark.read.format("binaryFile").load(glob_paths(spark, path_glob))

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = []
            for path, content in zip(batch["path"].values, batch["content"].values):
                content = bytes(content)
                payloads = _html_parts(content)
                if not payloads and path.endswith((".html", ".htm")):
                    # Plain HTML file (no MIME wrapper).
                    payloads = [(content, None)]
                extractor = _TableExtractor()
                for payload, charset in payloads:
                    extractor.feed(payload.decode(charset or "utf-8", errors="replace"))
                for t_idx, table in enumerate(extractor.tables):
                    for r_idx, cells in enumerate(table):
                        rows.append(
                            {
                                "path": path,
                                "table_idx": t_idx,
                                "row_idx": r_idx,
                                "cells": cells,
                                "row_text": " | ".join(cells),
                            }
                        )
            yield pd.DataFrame(rows, columns=[f.name for f in TABLE_ROW_SCHEMA.fields])

    return binary.select("path", "content").mapInPandas(extract, TABLE_ROW_SCHEMA)
