"""WARC source + deterministic HTML text extraction."""

import gzip

from filtlong_spark.sources import warc


def _record(url, date, body_html, lang=None, content_type="text/html",
            charset=None):
    ct = content_type + (f"; charset={charset}" if charset else "")
    http_headers = f"HTTP/1.1 200 OK\r\nContent-Type: {ct}"
    if lang:
        http_headers += f"\r\nContent-Language: {lang}"
    body = (body_html if isinstance(body_html, bytes)
            else body_html.encode(charset or "utf-8"))
    payload = (http_headers + "\r\n\r\n").encode() + body
    head = (f"WARC/1.0\r\n"
            f"WARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {date}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n").encode()
    return head + payload + b"\r\n\r\n"


def _warcinfo():
    body = b"software: test"
    return (f"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
            f"Content-Length: {len(body)}\r\n\r\n").encode() + body + b"\r\n\r\n"


HTML = ("<html><head><title>T</title><style>b{color:red}</style></head>"
        "<body><h1>Big &amp; bold</h1><p>the fast sort</p>"
        "<script>var x=1;</script><div>second   block</div></body></html>")


def test_extract_text_deterministic():
    t = warc.extract_text(HTML)
    assert "var x=1" not in t and "color:red" not in t
    assert "Big & bold" in t          # entity unescaped
    assert "the fast sort" in t
    assert "second block" in t        # whitespace collapsed
    assert t == warc.extract_text(HTML)


def test_read_warc_plain_and_gzip(spark, tmp_path):
    data = (_warcinfo()
            + _record("https://a.test/1", "2024-03-01T12:00:00Z", HTML, "en")
            + _record("https://a.test/2", "2024-03-01T12:05:00Z",
                      "<p>hello world</p>"))
    plain = tmp_path / "x.warc"
    plain.write_bytes(data)
    gz = tmp_path / "y.warc.gz"
    gz.write_bytes(gzip.compress(data))

    df = warc.read_warc(spark, [str(plain), str(gz)])
    rows = sorted(df.collect(), key=lambda r: (r["url"], r["warc_ts"]))
    assert len(rows) == 4  # 2 responses x 2 files; warcinfo skipped
    r = rows[0]
    assert r["url"] == "https://a.test/1"
    assert r["lang"] == "en"
    assert r["warc_ts"].month == 3 and r["warc_ts"].hour == 12
    assert bytes(r["html"]).startswith(b"<html>")
    assert "the fast sort" in r["text"]


def test_warc_charset_and_content_type(tmp_path):
    """Bodies decode per the declared Content-Type charset (a latin-1
    page extracts its accented text instead of mojibake); declared
    non-text records are skipped; unknown charset labels degrade to the
    utf-8-replace fallback instead of raising."""
    latin = "<p>café français</p>"         # é/ç: latin-1 bytes
    data = (_warcinfo()
            + _record("https://a.test/latin", "2024-03-01T12:00:00Z",
                      latin, charset="latin-1")
            + _record("https://a.test/img", "2024-03-01T12:01:00Z",
                      b"\xff\xd8\xff\xe0 jpeg bytes",
                      content_type="image/jpeg")
            + _record("https://a.test/pdf", "2024-03-01T12:02:00Z",
                      b"%PDF-1.4", content_type="application/pdf")
            + _record("https://a.test/badcs", "2024-03-01T12:03:00Z",
                      b"<p>plain ascii</p>", charset="no-such-charset")
            + _record("https://a.test/idna", "2024-03-01T12:03:30Z",
                      b"<p>codec not charset</p>", charset="idna")
            + _record("https://a.test/plain", "2024-03-01T12:04:00Z",
                      "just text", content_type="text/plain"))
    p = tmp_path / "cs.warc"
    p.write_bytes(data)
    rows = {r["url"]: r for r in warc.iter_warc_pages(str(p))}
    assert set(rows) == {"https://a.test/latin", "https://a.test/badcs",
                         "https://a.test/idna", "https://a.test/plain"}
    # 'idna' is a real codec but not a charset: decoding raises
    # UnicodeError even with errors='replace' — must degrade, not kill
    assert "codec not charset" in rows["https://a.test/idna"]["text"]
    assert "café français" in rows["https://a.test/latin"]["text"]
    assert "plain ascii" in rows["https://a.test/badcs"]["text"]
    assert rows["https://a.test/plain"]["text"] == "just text"


def test_warc_streams_bounded_batches(spark, tmp_path):
    """One file, many records -> MULTIPLE bounded Arrow batches: the
    parser never accumulates a whole archive in a Python list (a 1 GB
    .warc.gz can't spike executor memory)."""
    n = 10
    data = b"".join(
        _record(f"https://b.test/{i}", "2024-03-01T12:00:00Z",
                f"<p>page {i}</p>")
        for i in range(n))
    p = tmp_path / "many.warc"
    p.write_bytes(data)
    batches = list(warc.page_batches([str(p)], batch_rows=3))
    assert [len(b) for b in batches] == [3, 3, 3, 1]
    # and through Spark the same bounded batching yields every row once
    df = warc.read_warc(spark, str(p), batch_rows=3)
    assert sorted(r["url"] for r in df.collect()) == sorted(
        f"https://b.test/{i}" for i in range(n))


def test_warc_to_pipeline(spark, tmp_path):
    """WARC straight into the quality filter (the full ingestion story)."""
    from filtlong_spark.config import FilterConfig
    from filtlong_spark.plans.pipeline import run_filter
    body = "<p>" + "the fast sort of a big hash join " * 20 + "</p>"
    data = _record("https://p.test/doc", "2024-03-01T00:00:00Z", body)
    p = tmp_path / "p.warc"
    p.write_bytes(data)
    pages = warc.read_warc(spark, str(p))
    from filtlong_spark import fixtures as fx
    res = run_filter(spark, pages,
                     FilterConfig(min_length=10, mode="intrinsic",
                                  vocab=fx.VOCAB))
    kept = res.kept.collect()
    assert len(kept) == 1 and kept[0]["url"] == "https://p.test/doc"
    assert kept[0]["mean_q"] > 50


def test_warc_malformed_archive_errors_clearly(spark, tmp_path):
    """A corrupt archive (non-WARC framing) must raise the parser's
    clear error, not silently produce garbage rows."""
    import pytest
    bad = tmp_path / "bad.warc"
    bad.write_bytes(b"HTTP/1.1 200 OK\r\n\r\nnot a warc at all")
    with pytest.raises(Exception, match="not a WARC record header"):
        list(warc.iter_warc_pages(str(bad)))
    # truncated content-length: the record claims more bytes than exist;
    # the parser must stop cleanly at EOF rather than loop or crash
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: u\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n"
           b"Content-Length: 999999\r\n\r\nshort")
    t = tmp_path / "trunc.warc"
    t.write_bytes(rec)
    rows = list(warc.iter_warc_pages(str(t)))
    assert len(rows) == 1 and rows[0]["url"] == "u"
