"""WARC web-crawl container (functions/warc.py, born r13): record grammar
round-trips under both layouts (plain and Common Crawl's one-gzip-member-
per-record), member splitting must use the decompressor hand-off (payload
bytes may contain the gzip magic), malformed inputs must raise cleanly,
and a hand-built record (independent byte construction) pins the grammar.
The Spark plumbing is covered by the `corpus_warc_extract` catalog
entry's full value oracle (tests/test_oracle.py)."""

from __future__ import annotations

import hashlib
import zlib

import pytest

from kafka_cdc_hudi_spark.functions.warc import (
    dechunk,
    decode_warc,
    encode_warc,
    http_body,
    http_charset,
    split_gzip_members,
    split_http,
)


def is_warc(data: bytes) -> bool:
    """A WARC container, plain or gzip-member layout: its first record
    (decompressed, for the gzip layout) starts with the version line."""
    if data[:2] == b"\x1f\x8b":
        try:
            data = zlib.decompressobj(wbits=31).decompress(data, 16)
        except zlib.error:
            return False
    return data[:5] == b"WARC/"


def _recs():
    return [
        (
            {
                "WARC-Type": "response",
                "WARC-Record-ID": "<urn:uuid:1>",
                "WARC-Date": "2024-01-01T00:00:00Z",
                "WARC-Target-URI": "http://example.com/a",
                "Content-Type": "application/http; msgtype=response",
            },
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html>hi</html>",
        ),
        (
            {
                "WARC-Type": "resource",
                "WARC-Record-ID": "<urn:uuid:2>",
                "WARC-Date": "2024-01-01T00:00:01Z",
                "WARC-Target-URI": "http://example.com/b",
            },
            b"raw block \x00\xff bytes",
        ),
    ]


@pytest.mark.parametrize("gz", [True, False])
def test_roundtrip_both_layouts(gz):
    blob = encode_warc(_recs(), gzip_members=gz)
    assert is_warc(blob)
    got = decode_warc(blob)
    assert len(got) == 2
    for (h0, b0), (h1, b1) in zip(_recs(), got):
        assert b1 == b0
        for k, v in h0.items():
            assert h1[k] == v
        assert h1["Content-Length"] == str(len(b0))


def test_gzip_member_split_ignores_embedded_magic():
    """A block containing the 1f 8b magic must not confuse the member
    split — the hand-off is via zlib unused_data, not byte scanning."""
    recs = [
        ({"WARC-Type": "resource", "WARC-Record-ID": "<u:1>",
          "WARC-Date": "2024-01-01T00:00:00Z"}, b"\x1f\x8b" * 64),
        ({"WARC-Type": "resource", "WARC-Record-ID": "<u:2>",
          "WARC-Date": "2024-01-01T00:00:00Z"}, b"tail"),
    ]
    got = decode_warc(encode_warc(recs))
    assert [b for _h, b in got] == [b"\x1f\x8b" * 64, b"tail"]
    members = split_gzip_members(encode_warc(recs))
    assert len(members) == 2


def test_http_body():
    assert http_body(b"HTTP/1.1 200 OK\r\nX: y\r\n\r\nbody") == b"body"
    assert http_body(b"no http wrapper") == b"no http wrapper"


def test_http_chunked_body_dechunked():
    """Hand-built ``Transfer-Encoding: chunked`` response (RFC 9112 §7.1):
    two data chunks (one with a chunk extension), the 0-size last chunk,
    and a trailer field — http_body must yield exactly the payload with
    all framing and the trailer gone. Real Common Crawl response records
    use chunked framing ubiquitously (VERDICT r13 item 3)."""
    msg = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html\r\n"
        b"Transfer-Encoding: chunked\r\n"
        b"\r\n"
        b"b\r\n"            # 11 bytes
        b"<html>hello\r\n"
        b"7;ext=1\r\n"      # chunk extension must be ignored
        b"</html>\r\n"
        b"0\r\n"
        b"X-Trailer: t\r\n"
        b"\r\n"
    )
    assert http_body(msg) == b"<html>hello</html>"


def test_http_chunked_truncated_yields_partial():
    """A WARC-Truncated record can cut a chunk short; the reader yields
    the bytes present instead of raising (the WARC byte-budget case)."""
    msg = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
        b"ff\r\npartial data only"
    )
    assert http_body(msg) == b"partial data only"


def test_http_chunked_malformed_size_raises():
    msg = b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nzz\r\nx\r\n0\r\n\r\n"
    with pytest.raises(ValueError, match="chunk size"):
        http_body(msg)
    with pytest.raises(ValueError, match="unterminated chunk-size"):
        dechunk(b"no crlf anywhere")
    # int(tok, 16) parses '-6'/'+6'; a negative size would walk pos
    # BACKWARDS — an infinite loop on corrupt crawl data (r14 review).
    # Strict-hex rejection must raise, and fast.
    with pytest.raises(ValueError, match="chunk size"):
        dechunk(b"-6\r\nAAAAAAAA\r\n0\r\n\r\n")
    with pytest.raises(ValueError, match="chunk size"):
        dechunk(b"+6\r\nAAAAAA\r\n0\r\n\r\n")
    with pytest.raises(ValueError, match="chunk size"):
        dechunk(b"0x8\r\nAAAAAAAA\r\n0\r\n\r\n")


def test_http_charset_rejects_non_text_codecs():
    """codecs.lookup resolves NON-TEXT codecs (base64, hex, rot13, zlib)
    whose decode raises LookupError at use time even with
    errors='replace' — the probe-decode validation must fall back to
    utf-8 instead of letting extract_warc_text crash (r14 review)."""
    for cs in ("base64", "hex", "rot13", "zlib", "quopri", "uu"):
        got = http_charset({"content-type": f"text/plain; charset={cs}"})
        assert got == "utf-8", cs
        "x".encode().decode(got, errors="replace")  # must not raise
    # real text codecs still pass through
    assert http_charset({"content-type": "a/b; charset=utf-16"}) == "utf-16"


def test_http_content_encoding_gzip_and_deflate():
    payload = b"compressed body " * 8
    for ce, wbits in (("gzip", 31), ("deflate", 15), ("deflate", -15)):
        c = zlib.compressobj(9, zlib.DEFLATED, wbits)
        enc = c.compress(payload) + c.flush()
        msg = (
            b"HTTP/1.1 200 OK\r\nContent-Encoding: " + ce.encode() + b"\r\n\r\n" + enc
        )
        assert http_body(msg) == payload, (ce, wbits)


def test_http_chunked_then_gzip_stack():
    """Transfer-Encoding applies outside Content-Encoding: de-chunk
    first, then decompress."""
    payload = b"stacked encodings"
    c = zlib.compressobj(9, zlib.DEFLATED, 31)
    enc = c.compress(payload) + c.flush()
    chunked = (
        f"{len(enc):x}\r\n".encode() + enc + b"\r\n0\r\n\r\n"
    )
    msg = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n" + chunked
    )
    assert http_body(msg) == payload


def test_split_http_and_charset():
    msg = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html; charset=ISO-8859-1\r\n"
        b"Set-Cookie: a=1\r\n"
        b"Set-Cookie: b=2\r\n"
        b"\r\nbody"
    )
    headers, raw = split_http(msg)
    assert raw == b"body"
    assert headers["content-type"] == "text/html; charset=ISO-8859-1"
    assert headers["set-cookie"] == "a=1, b=2"  # repeats combine
    assert http_charset(headers) == "ISO-8859-1"
    assert http_charset({"content-type": "text/html"}) == "utf-8"
    assert http_charset({"content-type": 'text/html; charset="utf-8"'}) == "utf-8"
    # unknown charset falls back instead of raising at decode time
    assert http_charset({"content-type": "text/html; charset=not-a-codec"}) == "utf-8"
    assert split_http(b"no blank line") == ({}, b"no blank line")


def test_extract_warc_text_charset_and_chunked(spark):
    """Operator-level pin: a latin-1 response body decodes via its
    declared charset (not lossy-UTF-8), and a chunked response extracts
    clean de-chunked text."""
    from kafka_cdc_hudi_spark.operators.multimodal import extract_warc_text

    latin = "café détour".encode("latin-1")
    latin_block = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/plain; charset=iso-8859-1\r\n\r\n" + latin
    )
    chunked_block = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n"
        b"6\r\nchunk1\r\n"
        b"7\r\n chunk2\r\n"
        b"0\r\n\r\n"
    )
    recs = [
        ({"WARC-Type": "response", "WARC-Record-ID": "<u:1>",
          "WARC-Date": "2024-01-01T00:00:00Z",
          "Content-Type": "application/http; msgtype=response"}, latin_block),
        ({"WARC-Type": "response", "WARC-Record-ID": "<u:2>",
          "WARC-Date": "2024-01-01T00:00:00Z",
          "Content-Type": "application/http; msgtype=response"}, chunked_block),
    ]
    blob = encode_warc(recs)
    df = spark.createDataFrame(
        [(7, bytearray(blob), "warc", len(blob))],
        "media_id long, content binary, format string, byte_len long",
    )
    rows = sorted(extract_warc_text(df).collect(), key=lambda r: r["record_idx"])
    assert rows[0]["body"] == "café détour"
    assert rows[1]["body"] == "chunk1 chunk2"


def test_http_frame_body_roundtrip_property():
    """Property pin over the whole wire-framing surface: for ANY payload
    and every framing the fixture encoder emits, http_body must recover
    the exact payload bytes (latin-1 framing recovers payload + the
    declared suffix). Guards encoder and decoder against one-sided
    framing changes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kafka_cdc_hudi_spark.operators.multimodal import (
        _LATIN1_SUFFIX,
        _http_frame,
    )

    @given(
        payload=st.binary(max_size=200),
        framing=st.sampled_from(["identity", "chunked", "gzip", "latin1"]),
        extras=st.booleans(),
    )
    @settings(max_examples=300, deadline=None)
    def check(payload, framing, extras):
        msg = _http_frame(payload, framing, chunk_extras=extras)
        got = http_body(msg)
        want = payload + _LATIN1_SUFFIX if framing == "latin1" else payload
        assert got == want, (framing, extras, payload[:20])

    check()


def test_corpus_to_wet_roundtrip(spark):
    """WET output is genuine WARC: one container per source media_id,
    warcinfo first, conversion records carrying URI + refers-to, bodies
    = the extracted text; the same reader walks it back."""
    from kafka_cdc_hudi_spark.operators.multimodal import (
        WET_WARCINFO_BLOCK,
        corpus_to_wet,
    )

    recs = spark.createDataFrame(
        [(5, 1, "response", "hello world"), (5, 0, "response", "first rec")],
        "media_id long, record_idx int, warc_type string, body string",
    )
    wet_rows = corpus_to_wet(recs).collect()
    assert len(wet_rows) == 1
    blob = bytes(wet_rows[0]["content"])
    assert is_warc(blob)
    got = decode_warc(blob)
    assert [h["WARC-Type"] for h, _b in got] == ["warcinfo", "conversion", "conversion"]
    assert got[0][1] == WET_WARCINFO_BLOCK
    # record order follows record_idx, not input row order
    assert got[1][1] == b"first rec"
    assert got[2][1] == b"hello world"
    assert got[2][0]["WARC-Refers-To"] == "<urn:doc:5:1>"
    assert got[2][0]["WARC-Target-URI"] == "http://corpus.example/5/1"


def test_truncated_header_block_message():
    """ADVICE r13: truncation inside the header block raises a
    descriptive WARC error, not a bare substring-not-found."""
    with pytest.raises(ValueError, match="truncated WARC header"):
        decode_warc(b"WARC/1.0")
    with pytest.raises(ValueError, match="truncated WARC header"):
        decode_warc(b"WARC/1.0\r\nWARC-Type: resource")


def test_handbuilt_record_bytes():
    """Independent byte-level construction of one record pins the
    grammar: version line, header lines, blank line, Content-Length
    block, CRLF CRLF terminator."""
    block = b"hello world"
    raw = (
        b"WARC/1.0\r\n"
        b"WARC-Type: resource\r\n"
        b"WARC-Record-ID: <urn:x:1>\r\n"
        b"WARC-Date: 2024-02-02T00:00:00Z\r\n"
        + f"Content-Length: {len(block)}\r\n".encode()
        + b"\r\n"
        + block
        + b"\r\n\r\n"
    )
    got = decode_warc(raw)
    assert len(got) == 1
    headers, b = got[0]
    assert b == block
    assert headers["WARC-Type"] == "resource"
    assert headers["WARC-Date"] == "2024-02-02T00:00:00Z"
    # gzip single member of the same bytes
    c = zlib.compressobj(9, zlib.DEFLATED, 31)
    gz = c.compress(raw) + c.flush()
    assert decode_warc(gz)[0][1] == block


def test_malformed_inputs_raise():
    with pytest.raises(ValueError):
        decode_warc(b"NOTWARC/1.0\r\n\r\n")
    # record block truncated
    with pytest.raises(ValueError):
        decode_warc(b"WARC/1.0\r\nContent-Length: 100\r\n\r\nshort")
    # missing terminator
    with pytest.raises(ValueError):
        decode_warc(b"WARC/1.0\r\nContent-Length: 2\r\n\r\nab__")
    # missing Content-Length
    with pytest.raises(ValueError):
        decode_warc(b"WARC/1.0\r\nWARC-Type: resource\r\n\r\n")
    # truncated gzip member
    blob = encode_warc(_recs())
    with pytest.raises((ValueError, zlib.error)):
        decode_warc(blob[: len(blob) - 8])
    assert not is_warc(b"\x1f\x8bgarbage")
    assert not is_warc(b"plain text")


def test_extract_warc_records_operator(spark):
    from kafka_cdc_hudi_spark.operators.multimodal import extract_warc_records

    blob = encode_warc(_recs())
    df = spark.createDataFrame(
        [(1, bytearray(blob), "warc", len(blob))],
        "media_id long, content binary, format string, byte_len long",
    )
    rows = sorted(extract_warc_records(df).collect(), key=lambda r: r["record_idx"])
    assert [r["warc_type"] for r in rows] == ["response", "resource"]
    assert rows[0]["target_uri"] == "http://example.com/a"
    assert rows[0]["body_hash"] == hashlib.md5(b"<html>hi</html>").hexdigest()
    assert rows[1]["body_hash"] == hashlib.md5(b"raw block \x00\xff bytes").hexdigest()
    assert [r["n_records"] for r in rows] == [2, 2]


def test_repeated_headers_are_combined():
    """ISO 28500 permits repeated headers (WARC-Concurrent-To); decode
    must not silently drop values — they combine RFC-7230-style."""
    raw = (
        b"WARC/1.0\r\n"
        b"WARC-Type: metadata\r\n"
        b"WARC-Concurrent-To: <urn:uuid:a>\r\n"
        b"WARC-Concurrent-To: <urn:uuid:b>\r\n"
        b"Content-Length: 2\r\n"
        b"\r\nhi\r\n\r\n"
    )
    headers, block = decode_warc(raw)[0]
    assert headers["WARC-Concurrent-To"] == "<urn:uuid:a>, <urn:uuid:b>"
    assert block == b"hi"


def test_non_http_block_with_crlfcrlf_hashes_whole(spark):
    """A raw resource block CONTAINING the CRLF CRLF sequence must be
    hashed whole — http_body stripping is gated on the record's
    Content-Type, not on byte content."""
    from kafka_cdc_hudi_spark.functions.warc import is_http_record
    from kafka_cdc_hudi_spark.operators.multimodal import extract_warc_records

    tricky = b"head\r\n\r\ntail"
    recs = [
        ({"WARC-Type": "resource", "WARC-Record-ID": "<u:1>",
          "WARC-Date": "2024-01-01T00:00:00Z", "Content-Type": "text/plain"},
         tricky),
    ]
    assert not is_http_record(recs[0][0])
    blob = encode_warc(recs)
    df = spark.createDataFrame(
        [(1, bytearray(blob), "warc", len(blob))],
        "media_id long, content binary, format string, byte_len long",
    )
    row = extract_warc_records(df).collect()[0]
    assert row["body_hash"] == hashlib.md5(tricky).hexdigest()
