"""WARC ingestion (sources/warc.py) vs an INDEPENDENT spec-composed
writer, plus the HTML→text extraction contract (functions/html.py) vs
its Python-re mirror — and the two chained end-to-end in Spark: binary
WARC payloads → record rows → html_to_text → clean text."""

import random

import pytest
from pyspark.sql import functions as F

from sample_dms_kinesis_rds_mariadb_spark.functions.html import (
    html_to_text,
    py_html_to_text,
)
from sample_dms_kinesis_rds_mariadb_spark.sources.warc import (
    decode_body,
    iter_warc_records,
    split_http_payload,
    warc_records,
    write_warc_gz_members,
)


def make_record(
    warc_type: str,
    payload: bytes,
    uri: str = "https://example.org/x",
    rec_id: str = "<urn:uuid:0001>",
    date: str = "2026-08-15T00:00:00Z",
    extra_headers: dict | None = None,
) -> bytes:
    """Independent record serializer (written from ISO 28500's grammar,
    not from the parser): version line + named fields + CRLF CRLF +
    payload + CRLF CRLF."""
    headers = {
        "WARC-Type": warc_type,
        "WARC-Record-ID": rec_id,
        "WARC-Date": date,
        "WARC-Target-URI": uri,
        "Content-Length": str(len(payload)),
    }
    headers.update(extra_headers or {})
    head = b"WARC/1.0\r\n" + b"".join(
        f"{k}: {v}\r\n".encode("latin-1") for k, v in headers.items()
    )
    return head + b"\r\n" + payload + b"\r\n\r\n"


def make_http_response(
    body: bytes,
    status: int = 200,
    content_type: str = "text/html; charset=utf-8",
) -> bytes:
    return (
        f"HTTP/1.1 {status} OK\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode("latin-1") + body


_HTML = (
    "<!DOCTYPE html><html><head><title>T</title>"
    "<style>p {{ color: red }}</style>"
    "<script>var x = '<p>not text</p>';</script></head>"
    "<body><!-- hidden --><h1>Heading</h1>"
    "<p>First &amp; second &lt;para&gt;.</p>"
    "<div>Block<br>break &#39;quoted&#39;</div>"
    "<ul><li>one</li><li>two&nbsp;items</li></ul>{extra}</body></html>"
)


def test_iter_warc_records_plain_and_gzip():
    body = "<p>héllo</p>".encode("utf-8")
    recs = [
        make_record("warcinfo", b"software: test\r\n"),
        make_record("request", b"GET /x HTTP/1.1\r\n"),
        make_record("response", make_http_response(body)),
    ]
    blob = b"".join(recs)
    parsed = list(iter_warc_records(blob))
    assert [r["headers"]["warc-type"] for r in parsed] == [
        "warcinfo", "request", "response",
    ]
    resp = parsed[2]
    assert resp["http_status"] == 200
    assert resp["body"] == body
    assert resp["headers"]["warc-target-uri"] == "https://example.org/x"
    # the Common Crawl layout: one gzip member per record
    gz = write_warc_gz_members(recs)
    assert [r["headers"]["warc-record-id"] for r in iter_warc_records(gz)] == [
        r["headers"]["warc-record-id"] for r in parsed
    ]


def test_charset_sniffing_and_http_split():
    latin = "café".encode("latin-1")
    status, headers, body = split_http_payload(
        make_http_response(latin, content_type="text/html; charset=latin-1")
    )
    assert status == 200 and body == latin
    assert decode_body(body, headers["content-type"]) == "café"
    # bogus charset falls back to utf-8-with-replacement
    assert "caf" in decode_body(latin, "text/html; charset=bogus-enc")
    # non-HTTP payload passes through
    s, h, b = split_http_payload(b"not http at all")
    assert s is None and b == b"not http at all"


def test_warc_malformed_raise():
    with pytest.raises(ValueError, match="version line"):
        list(iter_warc_records(b"NOT A WARC"))
    rec = make_record("response", make_http_response(b"x" * 100))
    with pytest.raises(ValueError, match="truncated"):
        list(iter_warc_records(rec[: len(rec) - 60]))
    no_len = rec.replace(b"Content-Length", b"X-Length")
    with pytest.raises(ValueError, match="Content-Length"):
        list(iter_warc_records(no_len))


def test_html_to_text_contract_vs_python_reference(spark):
    docs = [
        _HTML.format(extra=""),
        _HTML.format(extra="<table><tr><td>a</td><td>b</td></tr></table>"),
        "plain text, no tags &amp; one entity",
        "<p>unclosed paragraph",
        "<SCRIPT>UPPER.case()</SCRIPT><P>Mixed</P>",
        "a &amp;lt; b",  # double-escaped: must yield 'a &lt; b'
        "",
    ]
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "i long, html string")
    got = {
        r["i"]: r["text"]
        for r in df.select("i", html_to_text(F.col("html")).alias("text")).collect()
    }
    for i, d in enumerate(docs):
        assert got[i] == py_html_to_text(d), f"doc {i} diverged"
    t = got[0]
    assert "not text" not in t and "color" not in t and "hidden" not in t
    assert "First & second <para>." in t
    assert "Heading" in t and "two items" in t
    assert "Block\nbreak 'quoted'" in t
    assert got[5] == "a &lt; b"


def test_warc_to_text_pipeline_e2e(spark):
    """The composition the modules exist for: WARC gzip members →
    warc_records → html_to_text, all real, Arrow-batched."""
    rng = random.Random(7)
    files = []
    for fid in range(3):
        recs = [make_record("warcinfo", b"software: test\r\n")]
        for k in range(4):
            html = _HTML.format(extra=f"<p>doc {fid}-{k} tail {rng.random()}</p>")
            recs.append(
                make_record(
                    "response",
                    make_http_response(html.encode("utf-8")),
                    uri=f"https://site{fid}.example/{k}",
                    rec_id=f"<urn:uuid:{fid}-{k}>",
                )
            )
        files.append((fid, bytearray(write_warc_gz_members(recs))))
    df = spark.createDataFrame(files, "file_id long, content binary")
    recs_df = warc_records(df)
    rows = recs_df.collect()
    assert len(rows) == 12  # warcinfo filtered out by types=("response",)
    assert all(r["http_status"] == 200 for r in rows)
    assert all(r["warc_type"] == "response" for r in rows)
    texts = recs_df.select(
        "target_uri", html_to_text(F.col("html")).alias("text")
    ).collect()
    for r in texts:
        # decoded entities (&lt;para&gt; → <para>) survive; TAGS don't
        assert "Heading" in r["text"]
        assert "<p>" not in r["text"] and "<div" not in r["text"]
        assert "script" not in r["text"] and "DOCTYPE" not in r["text"]
    # record identity survives: uri ↔ doc tail pairing
    one = [r for r in texts if r["target_uri"] == "https://site1.example/2"]
    assert len(one) == 1 and "doc 1-2 tail" in one[0]["text"]


def test_html_links_parity(spark):
    from sample_dms_kinesis_rds_mariadb_spark.functions.html import (
        html_links,
        py_html_links,
    )

    docs = [
        '<a href="https://a.example.com/x">x</a> text '
        "<a class='k' href='http://b.example.org/y?q=1'>y</a>"
        '<A HREF="HTTPS://A.EXAMPLE.COM/z#frag">z</A>'
        "<a name=anchor>no href</a>",
        "<p>no links at all</p>",
    ]
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "i long, html string"
    )
    got = {
        r["i"]: list(r["links"])
        for r in df.select("i", html_links(F.col("html")).alias("links")).collect()
    }
    for i, d in enumerate(docs):
        assert got[i] == py_html_links(d), i
    assert len(got[0]) == 3 and got[1] == []


def test_html_link_anchors_parity(spark):
    from sample_dms_kinesis_rds_mariadb_spark.functions.html import (
        html_link_anchors,
        py_html_link_anchors,
    )

    docs = [
        '<a href="https://a.ex/x">plain text</a> mid '
        '<a class="k" href="https://b.ex/y"><b>bold</b> and <i>italic</i></a>'
        '<a href="https://c.ex/z">  spaced\n  out  </a>',
        '<a href="https://no.close/x">unclosed anchor',
        "no anchors here",
    ]
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "i long, html string"
    )
    got = {
        r["i"]: [(p["href"], p["anchor"]) for p in r["pairs"]]
        for r in df.select(
            "i", html_link_anchors(F.col("html")).alias("pairs")
        ).collect()
    }
    for i, d in enumerate(docs):
        assert got[i] == py_html_link_anchors(d), i
    assert got[0] == [
        ("https://a.ex/x", "plain text"),
        ("https://b.ex/y", "bold and italic"),
        ("https://c.ex/z", "spaced out"),
    ]
    assert got[1] == [] and got[2] == []


def test_gunzip_members_chunked_walk():
    """The bounded-feed gzip walk (r13 optimization: O(chunk) copies per
    member instead of O(remaining file)) across the shapes the chunking
    can get wrong: a member BIGGER than the feed chunk, a member ending
    exactly on a chunk boundary, and many tiny members."""
    import gzip
    import io
    import zlib

    from sample_dms_kinesis_rds_mariadb_spark.sources import warc as warc_mod

    def gz(data: bytes) -> bytes:
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
            f.write(data)
        return buf.getvalue()

    chunk = warc_mod._GZ_CHUNK
    rng = random.Random(7)
    # incompressible payload so the COMPRESSED member exceeds the chunk
    big = bytes(rng.randrange(256) for _ in range(3 * chunk))
    small = [f"member {i}".encode() for i in range(50)]
    members = [gz(big)] + [gz(s) for s in small] + [gz(b"")]
    blob = b"".join(members)
    assert len(members[0]) > chunk  # the multi-chunk member really is one
    out = warc_mod._gunzip_members(blob)
    assert out == big + b"".join(small)

    # member boundary exactly at a chunk boundary: pad the first member
    # with a second one sized so the pair ends at k*chunk, then append a
    # third — the walk must restart cleanly at the boundary
    first = gz(b"A" * 100)
    pad_target = 2 * chunk - len(first)
    # binary search a payload length whose gzipped size lands on target
    lo, hi = pad_target // 2, 4 * pad_target
    payload = None
    while lo <= hi:
        mid = (lo + hi) // 2
        cand = bytes(rng.randrange(256) for _ in range(mid))
        size = len(gz(cand))
        if size == pad_target:
            payload = cand
            break
        if size < pad_target:
            lo = mid + 1
        else:
            hi = mid - 1
    if payload is not None:  # exact landing is rng-dependent; skip if not
        aligned = first + gz(payload) + gz(b"tail")
        assert len(first + gz(payload)) == 2 * chunk
        assert warc_mod._gunzip_members(aligned) == b"A" * 100 + payload + b"tail"

    # corrupt member mid-stream still raises with the member's offset
    corrupt = gz(b"ok") + b"\x1f\x8b" + b"\x00" * 40
    try:
        warc_mod._gunzip_members(corrupt)
        raise AssertionError("corrupt member did not raise")
    except ValueError as exc:
        assert "corrupt gzip member" in str(exc)
