"""Pure-stdlib WARC (Web ARChive, ISO 28500 / WARC/1.0) reader + writer.

WARC is the container format of web crawls (Common Crawl ships it), which
makes it the dominant RAW INPUT of large-scale text-pipeline ingestion —
the counterpart of the image/audio/video codecs for the text modality.
A WARC file is a sequence of records, each:

    WARC/1.0 CRLF
    <header-name>: <value> CRLF ...
    CRLF
    <Content-Length bytes of block>
    CRLF CRLF

and is conventionally stored gzip-compressed with ONE GZIP MEMBER PER
RECORD so readers can random-access records by offset. Both layouts
(plain and multi-member gzip) are implemented; member splitting uses
zlib's ``unused_data`` hand-off, not magic-byte scanning (gzip payload
bytes may contain 1f 8b).

Runs per Arrow batch inside mapInPandas workers; per-row work is
O(record bytes). No external libraries — gzip members via ``zlib``.
"""

from __future__ import annotations

import zlib

_GZIP_MAGIC = b"\x1f\x8b"
_CRLF = b"\r\n"


def split_gzip_members(data: bytes) -> list[bytes]:
    """Split a multi-member gzip stream into DECOMPRESSED members via the
    decompressor's ``unused_data`` hand-off."""
    out: list[bytes] = []
    rest = data
    while rest:
        d = zlib.decompressobj(wbits=31)
        out.append(d.decompress(rest))
        out[-1] += d.flush()
        if not d.eof:
            raise ValueError("truncated gzip member in WARC stream")
        rest = d.unused_data
    return out


def _parse_records(raw: bytes) -> list[tuple[dict[str, str], bytes]]:
    records: list[tuple[dict[str, str], bytes]] = []
    pos = 0
    n = len(raw)
    while pos < n:
        # tolerate inter-record padding CRLFs
        while raw[pos : pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            break
        eol = raw.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("truncated WARC header block (no CRLF after version line)")
        version = raw[pos:eol].decode("ascii", errors="replace")
        if not version.startswith("WARC/"):
            raise ValueError(f"bad WARC version line: {version!r}")
        pos = eol + 2
        headers: dict[str, str] = {}
        while True:
            eol = raw.find(b"\r\n", pos)
            if eol < 0:
                raise ValueError("truncated WARC header block (unterminated header line)")
            line = raw[pos:eol]
            pos = eol + 2
            if not line:
                break  # blank line ends the header block
            k, _, v = line.decode("utf-8", errors="replace").partition(":")
            k, v = k.strip(), v.strip()
            if k in headers:
                # ISO 28500 permits repeated headers (WARC-Concurrent-To);
                # combine RFC-7230-style so no value is silently dropped
                headers[k] = f"{headers[k]}, {v}"
            else:
                headers[k] = v
        try:
            length = int(headers["Content-Length"])
        except (KeyError, ValueError):
            raise ValueError("WARC record without a valid Content-Length")
        if pos + length > n:
            raise ValueError("WARC record block truncated")
        block = raw[pos : pos + length]
        pos += length
        if raw[pos : pos + 4] != _CRLF + _CRLF:
            raise ValueError("WARC record missing the CRLF CRLF terminator")
        pos += 4
        records.append((headers, block))
    return records


def decode_warc(data: bytes) -> list[tuple[dict[str, str], bytes]]:
    """WARC bytes (plain or multi-member gzip) -> list of
    (headers, block) per record, in file order."""
    if data[:2] == _GZIP_MAGIC:
        records: list[tuple[dict[str, str], bytes]] = []
        for member in split_gzip_members(data):
            records.extend(_parse_records(member))
        return records
    return _parse_records(data)


def is_http_record(headers: dict[str, str]) -> bool:
    """True when the record block is an HTTP message (the ISO 28500
    convention: Content-Type application/http). Gates body stripping —
    a raw resource block may legitimately CONTAIN a CRLF CRLF sequence
    and must be hashed/returned whole."""
    return headers.get("Content-Type", "").lower().startswith("application/http")


def split_http(block: bytes) -> tuple[dict[str, str], bytes]:
    """HTTP-message block -> (headers, raw body). Header keys are
    lowercased; repeated headers combine RFC-7230-style. The start line
    (request/status) is not a header and is skipped. A block without a
    blank line has no header section: ``({}, block)``."""
    i = block.find(b"\r\n\r\n")
    if i < 0:
        return {}, block
    headers: dict[str, str] = {}
    for line in block[:i].split(_CRLF)[1:]:  # [0] is the start line
        k, sep, v = line.decode("latin-1").partition(":")
        if not sep:
            continue  # tolerate stray non-header lines (obs-fold tails)
        k, v = k.strip().lower(), v.strip()
        headers[k] = f"{headers[k]}, {v}" if k in headers else v
    return headers, block[i + 4 :]


def dechunk(body: bytes) -> bytes:
    """Decode a ``Transfer-Encoding: chunked`` message body (RFC 9112
    §7.1): ``<hex size>[;ext] CRLF <data> CRLF`` repeated, a ``0``-size
    last chunk, then optional trailer fields. Chunk extensions and
    trailers are discarded. WARC records are commonly TRUNCATED at a
    byte budget (WARC-Truncated), so a chunk whose declared size runs
    past the available bytes yields the partial data instead of
    raising; malformed chunk-size framing raises ValueError."""
    out = bytearray()
    pos = 0
    n = len(body)
    while pos < n:
        eol = body.find(_CRLF, pos)
        if eol < 0:
            raise ValueError("malformed chunked body: unterminated chunk-size line")
        size_tok = body[pos:eol].split(b";", 1)[0].strip()
        # strict hex only: int(tok, 16) would also accept '-6'/'+6', and a
        # negative size makes pos walk backwards — an infinite loop with
        # unbounded growth on corrupt crawl data (r14 review finding)
        if not size_tok or any(
            c not in b"0123456789abcdefABCDEF" for c in size_tok
        ):
            raise ValueError(
                f"malformed chunked body: bad chunk size {size_tok[:16]!r}"
            )
        size = int(size_tok, 16)
        pos = eol + 2
        if size == 0:
            break  # last-chunk; trailers (if any) are discarded
        out += body[pos : pos + size]
        pos += size + 2  # chunk data + its CRLF
    return bytes(out)


def decode_http_body(headers: dict[str, str], raw_body: bytes) -> bytes:
    """Apply the message framing/encoding the parsed headers declare:
    de-chunk when Transfer-Encoding's final token is ``chunked``, then
    undo ``Content-Encoding: gzip|x-gzip|deflate``. Decompression is
    best-effort on truncated records (returns the bytes recovered before
    the truncation point); unknown content-encodings pass through raw —
    the caller still sees the exact on-wire payload."""
    te = headers.get("transfer-encoding", "")
    if te and te.split(",")[-1].strip().lower() == "chunked":
        raw_body = dechunk(raw_body)
    ce = headers.get("content-encoding", "").split(",")[-1].strip().lower()
    if ce in ("gzip", "x-gzip", "deflate"):
        # wbits=47: auto-detect zlib or gzip wrapper; raw deflate (the
        # historical IE-ism) retried with -15
        for wbits in (47, -15):
            d = zlib.decompressobj(wbits=wbits)
            try:
                plain = d.decompress(raw_body) + d.flush()
            except zlib.error:
                continue
            return plain
    return raw_body


def http_body(block: bytes) -> bytes:
    """The DECODED body of an HTTP-message record block: header strip +
    chunked transfer decoding + content-encoding decompression (see
    :func:`decode_http_body`); a block without HTTP headers is returned
    whole. Callers should gate on :func:`is_http_record`."""
    headers, raw = split_http(block)
    return decode_http_body(headers, raw)


def http_charset(headers: dict[str, str], default: str = "utf-8") -> str:
    """Charset declared by the HTTP Content-Type header (lowercase-keyed
    dict from :func:`split_http`), validated by a probe text-decode;
    unknown, absent, or non-text codecs -> ``default``."""
    ctype = headers.get("content-type", "")
    for part in ctype.split(";")[1:]:
        k, _, v = part.partition("=")
        if k.strip().lower() == "charset":
            cs = v.strip().strip('"').strip("'")
            try:
                # probe decode, not just codecs.lookup: lookup() also
                # resolves NON-TEXT codecs (base64, hex, rot13, zlib)
                # whose .decode raises LookupError at use time even with
                # errors='replace' (r14 review finding). One probe byte —
                # empty bytes short-circuit before the codec lookup —
                # and errors='replace' so truncation-sensitive text
                # codecs (utf-16) still validate.
                b"a".decode(cs, "replace")
            except Exception:
                return default
            return cs
    return default


def encode_warc(
    records: list[tuple[dict[str, str], bytes]],
    gzip_members: bool = True,
) -> bytes:
    """Serialize (headers, block) records as WARC/1.0. ``Content-Length``
    is computed; all other headers pass through in the given order. With
    ``gzip_members`` each record becomes its own gzip member (the
    Common Crawl layout); mtime/filename are not stamped so output is
    deterministic."""
    out = bytearray()
    for headers, block in records:
        rec = bytearray(b"WARC/1.0\r\n")
        for k, v in headers.items():
            if k.lower() == "content-length":
                continue
            rec += f"{k}: {v}\r\n".encode()
        rec += f"Content-Length: {len(block)}\r\n".encode()
        rec += _CRLF
        rec += block
        rec += _CRLF + _CRLF
        if gzip_members:
            c = zlib.compressobj(9, zlib.DEFLATED, 31)
            member = c.compress(bytes(rec)) + c.flush()
            out += member
        else:
            out += rec
    return bytes(out)
