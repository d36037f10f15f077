"""WARC source: Common-Crawl archives -> the input_hint pages table.

Mirrors the FASTX source's physical design (sources/fastx.py): files are
the unit of parallelism (WARC members are gzip-concatenated, not
splittable), the driver globs paths, one task parses each file in an
Arrow-batched pass. Pure stdlib — WARC/1.0 record framing + HTTP payload
split + a deterministic HTML->text extractor, so `text` is reproducible
byte-for-byte (the north_rule's per-url invariant).

pages schema out: (url string, warc_ts timestamp, html binary,
text string, lang string) — lang from the Content-Language header when
present, else null (the pipeline's langid gate predicts it anyway).
"""

from __future__ import annotations

import glob
import gzip
import html as html_mod
import io
import re
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")

_SCRIPT_STYLE_RE = re.compile(
    r"<(script|style)\b[^>]*>.*?</\1\s*>", re.IGNORECASE | re.DOTALL)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"\s+")
# block-level tags become newlines so paragraph structure survives
_BLOCK_RE = re.compile(
    r"</?(p|div|br|li|ul|ol|h[1-6]|tr|table|section|article|header|"
    r"footer|blockquote)\b[^>]*>", re.IGNORECASE)


def extract_text(html: str) -> str:
    """Deterministic HTML -> text: drop script/style/comments, turn block
    tags into newlines, strip remaining tags, unescape entities, collapse
    runs of spaces/tabs (newlines kept single). No external parser —
    byte-reproducible everywhere."""
    s = _SCRIPT_STYLE_RE.sub(" ", html)
    s = _COMMENT_RE.sub(" ", s)
    s = _BLOCK_RE.sub("\n", s)
    s = _TAG_RE.sub(" ", s)
    s = html_mod.unescape(s)
    lines = [_WS_RE.sub(" ", ln).strip() for ln in s.split("\n")]
    return "\n".join(ln for ln in lines if ln)


def _parse_warc_ts(value: str):
    try:
        return (datetime.fromisoformat(value.replace("Z", "+00:00"))
                .astimezone(timezone.utc).replace(tzinfo=None))
    except ValueError:
        return None


def parse_warc(stream: io.BufferedIOBase):
    """Yield (headers dict, payload bytes) per WARC/1.0 record."""
    while True:
        line = stream.readline()
        if not line:
            return
        if not line.strip():
            continue
        if not line.startswith(b"WARC/"):
            raise ValueError(f"Error: not a WARC record header: {line[:40]!r}")
        headers: dict[str, str] = {}
        while True:
            h = stream.readline()
            if not h or not h.strip():
                break
            k, _, v = h.decode("utf-8", "replace").partition(":")
            headers[k.strip().lower()] = v.strip()
        length = int(headers.get("content-length", "0"))
        payload = stream.read(length)
        yield headers, payload


def _http_body_and_headers(payload: bytes) -> tuple[bytes, dict[str, str]]:
    """Split an HTTP response payload into (body, lowercase headers)."""
    sep = payload.find(b"\r\n\r\n")
    if sep < 0:
        return payload, {}
    head = payload[:sep].decode("utf-8", "replace")
    headers = {}
    for ln in head.split("\r\n")[1:]:
        k, _, v = ln.partition(":")
        if v:
            headers[k.strip().lower()] = v.strip()
    return payload[sep + 4:], headers


def open_warc(path: str) -> io.BufferedIOBase:
    if path.endswith(".gz"):
        return gzip.open(path, "rb")
    return open(path, "rb")


_CHARSET_RE = re.compile(r"charset\s*=\s*\"?([A-Za-z0-9_.:-]+)\"?",
                         re.IGNORECASE)
# content-types worth text extraction; anything else declared (images,
# pdf, octet-stream, ...) is skipped — a crawl archive is mostly media
# by bytes, and decoding a JPEG as text poisons every downstream stage
_HTML_TYPES = ("text/html", "application/xhtml+xml", "text/plain")


def decode_http_body(body: bytes, http: dict[str, str]) -> str:
    """Decode per the HTTP Content-Type charset when one is declared and
    Python knows it; fall back to utf-8 with replacement (the
    Common-Crawl default posture). Always replacement-tolerant — a
    mis-declared charset must degrade, never raise."""
    ct = http.get("content-type", "")
    m = _CHARSET_RE.search(ct)
    if m:
        try:
            return body.decode(m.group(1), "replace")
        except (LookupError, UnicodeError, ValueError):
            # unknown/typo'd labels raise LookupError; labels naming
            # non-charset codecs ('idna', 'punycode') raise
            # UnicodeError/UnicodeDecodeError even WITH errors='replace'
            # — every shape degrades to the utf-8 fallback, none may
            # kill the ingest task
            pass
    return body.decode("utf-8", "replace")


def _is_text_type(http: dict[str, str]) -> bool:
    ct = http.get("content-type")
    if ct is None:
        return True  # undeclared: assume html (early-web crawls)
    ct = ct.split(";", 1)[0].strip().lower()
    return ct in _HTML_TYPES or ct == ""


def iter_warc_pages(path: str):
    """Yield one pages row dict per HTML/text response record —
    streaming, so a 1 GB archive never sits in executor memory as a
    Python list. Non-text responses (declared image/pdf/... payloads)
    are skipped; bodies decode per their declared charset (latin-1
    pages extract correctly instead of as mojibake)."""
    with open_warc(path) as f:
        for headers, payload in parse_warc(f):
            if headers.get("warc-type") != "response":
                continue
            url = headers.get("warc-target-uri")
            if not url:
                continue
            body, http = _http_body_and_headers(payload)
            if not _is_text_type(http):
                continue
            yield {
                "url": url,
                "warc_ts": _parse_warc_ts(headers.get("warc-date", "")),
                "html": body,
                "text": extract_text(decode_http_body(body, http)),
                "lang": http.get("content-language"),
            }


WARC_BATCH_ROWS = 256
_PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]


def page_batches(paths, batch_rows: int = WARC_BATCH_ROWS):
    """Stream pages from WARC files as bounded pandas batches: at most
    ``batch_rows`` rows (plus their html bytes) are ever buffered, so
    executor memory stays flat regardless of archive size."""
    import pandas as pd
    buf: list[dict] = []
    for path in paths:
        for row in iter_warc_pages(path):
            buf.append(row)
            if len(buf) >= batch_rows:
                yield pd.DataFrame(buf, columns=_PAGE_COLS)
                buf = []
    if buf:
        yield pd.DataFrame(buf, columns=_PAGE_COLS)


def read_warc(spark: SparkSession, paths: str | list[str],
              batch_rows: int = WARC_BATCH_ROWS) -> DataFrame:
    """Distributed WARC scan -> pages DataFrame (one task per file —
    members are gzip-concatenated, not splittable; rows stream out in
    bounded Arrow batches)."""
    from ..functions.scoring import _register_self_contained_pickling
    _register_self_contained_pickling()

    if isinstance(paths, str):
        paths = [paths]
    files = []
    for p in paths:
        matched = sorted(glob.glob(p))
        if not matched:
            raise FileNotFoundError(f"Error: cannot find file: {p}")
        files.extend(matched)

    files_df = spark.createDataFrame([(f,) for f in files], "path string") \
        .repartition(len(files))

    def mapper(batches):
        for pdf in batches:
            yield from page_batches(pdf["path"], batch_rows)

    return files_df.mapInPandas(mapper, schema=PAGES_SCHEMA)
