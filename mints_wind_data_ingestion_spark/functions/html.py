"""HTML → text extraction for raw-WARC response records (r14).

A WET file ships pre-extracted text, but a raw `.warc.gz` crawl
carries `response` records whose payload is an HTTP response wrapping
HTML — the extraction step IS the difference between the two
CommonCrawl artifact classes. This module is the engine's native
version of that step, stdlib-only (html.parser), with the same
deterministic, testable posture as the codecs:

- `html_to_text`: tag-stripping extraction — script/style/template/
  noscript/iframe subtrees dropped entirely, block-level tags emit
  newlines, inline tags don't, `<pre>` content preserved verbatim,
  character/entity references decoded (html.parser's charref
  handling), whitespace collapsed outside `<pre>`, comments and
  doctype dropped.
- `parse_http_response`: HTTP/1.x response framing — status line,
  headers, chunked transfer-decoding, Content-Encoding undone
  natively, charset from the Content-Type header — or, when the
  header names none, WHATWG-style sniffing (BOM, then `<meta
  charset>` within the first 1024 bytes), defaulting to UTF-8 with
  replacement (extraction is lossy-tolerant; framing is not).

The sophistication ceiling is deliberate: this is the trafilatura /
jusText PROBLEM slot, solved at the readability-heuristic level a
dependency-free engine can verify (boilerplate classifiers are
model-subjective — the lossy-codec doctrine). What IS here is exact
and pinned by tests.
"""

from __future__ import annotations

import re as _re
import zlib
from html.parser import HTMLParser

__all__ = ["extract_links", "html_to_text", "parse_http_response"]

#: decompression-bomb guard for Content-Encoding bodies — a response
#: body never legitimately inflates past this (matches the WARC
#: member guard's order of magnitude; deflate can run ~1000:1)
_MAX_BODY_BYTES = 64 * 1024 * 1024

#: subtrees dropped wholesale — non-content by construction
_DROP = {"script", "style", "template", "noscript", "iframe", "svg",
         "head"}

#: tags that break text flow: entering/leaving one emits a newline
_BLOCK = {
    "address", "article", "aside", "blockquote", "br", "caption",
    "dd", "details", "div", "dl", "dt", "fieldset", "figcaption",
    "figure", "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6",
    "header", "hr", "li", "main", "nav", "ol", "option", "p", "pre",
    "section", "summary", "table", "td", "th", "tr", "ul",
}


class _Extractor(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []
        self.drop_depth = 0
        self.pre_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in _DROP:
            self.drop_depth += 1
        if tag in _BLOCK and not self.drop_depth:
            self.parts.append("\n")
        if tag == "pre":
            self.pre_depth += 1

    def handle_startendtag(self, tag, attrs):
        if tag in _BLOCK and not self.drop_depth:
            self.parts.append("\n")

    def handle_endtag(self, tag):
        if tag in _DROP and self.drop_depth:
            self.drop_depth -= 1
        if tag == "pre" and self.pre_depth:
            self.pre_depth -= 1
        if tag in _BLOCK and not self.drop_depth:
            self.parts.append("\n")

    def handle_data(self, data):
        if self.drop_depth:
            return
        if self.pre_depth:
            self.parts.append(("\x00PRE\x00", data))  # verbatim marker
        else:
            self.parts.append(data)


def _feed(parser: HTMLParser, html: str) -> None:
    """Feed and close `parser`, keeping what it parsed before a fault.
    CPython's html.parser raises AssertionError on a malformed marked
    section (`<!['`, `<![x[`), the only exception type fuzzed str input
    has drawn from it. The rest of the document is lost and what came
    before is kept (extraction is lossy-tolerant)."""
    try:
        parser.feed(html)
        parser.close()
    except AssertionError:
        pass


def html_to_text(html: str) -> str:
    """Extract readable text: dropped subtrees, block newlines,
    verbatim `<pre>`, collapsed whitespace elsewhere."""
    ex = _Extractor()
    _feed(ex, html)
    out: list[str] = []
    pending_space = False
    pending_break = 0
    for part in ex.parts:
        if isinstance(part, tuple):  # pre-verbatim chunk
            if pending_break and out:
                out.append("\n" * min(pending_break, 2))
            pending_break = 0
            pending_space = False
            out.append(part[1])
            continue
        if part == "\n":
            pending_break += 1
            continue
        words = part.split()
        if not words:
            pending_space = pending_space or (bool(part) and bool(out))
            continue
        if pending_break and out:
            out.append("\n" * min(pending_break, 2))
            pending_space = False
        elif pending_space and out:
            out.append(" ")
        elif out and not out[-1].endswith(("\n", " ")):
            if part[0].isspace():
                out.append(" ")
        pending_break = 0
        out.append(" ".join(words))
        pending_space = part[-1].isspace()
    return "".join(out).strip("\n ")


def _dechunk(body: bytes) -> bytes:
    """RFC 9112 chunked transfer-decoding; ValueError on bad framing
    (tolerated by the caller as 'body as-is' — crawled HTTP is messy
    and extraction is lossy-tolerant)."""
    out = bytearray()
    pos = 0
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("chunked: missing size line")
        size_tok = body[pos:eol].split(b";")[0].strip()
        size = int(size_tok, 16)
        pos = eol + 2
        if size == 0:
            return bytes(out)
        if pos + size > len(body):
            raise ValueError("chunked: truncated chunk")
        out += body[pos : pos + size]
        pos += size + 2  # trailing CRLF


def _zlib_bounded(body: bytes, wbits: int) -> bytes:
    """One zlib-family decompress bounded by _MAX_BODY_BYTES;
    ValueError past the cap or on a corrupt/truncated stream."""
    d = zlib.decompressobj(wbits)
    out = d.decompress(body, _MAX_BODY_BYTES)
    if d.unconsumed_tail:
        raise ValueError("content-encoding: body exceeds the bomb guard")
    if not d.eof:
        raise ValueError("content-encoding: truncated stream")
    return out


def _decode_content(body: bytes, coding: str) -> bytes:
    """Decode one Content-Encoding coding. ValueError on a corrupt /
    truncated / oversized / unknown-coding stream (br decodes through
    the native RFC 7932 codec since r14h)."""
    if coding in ("gzip", "x-gzip"):
        return _zlib_bounded(body, 47)  # 32+15: gzip or zlib header
    if coding == "deflate":
        # RFC says zlib-wrapped, but raw-deflate senders are common
        # in the wild — try the spec form first, then raw
        try:
            return _zlib_bounded(body, 15)
        except (ValueError, zlib.error):
            return _zlib_bounded(body, -15)
    if coding == "zstd":
        from ..sources.zstdcodec import ZstdError, decompress_zstd

        try:
            out = decompress_zstd(body)
        except ZstdError as exc:
            raise ValueError(f"content-encoding: zstd: {exc}") from exc
        if len(out) > _MAX_BODY_BYTES:
            raise ValueError("content-encoding: body exceeds the bomb guard")
        return out
    if coding == "br":
        from ..sources.brotlicodec import BrotliError, decompress_brotli

        try:
            return decompress_brotli(body, max_output=_MAX_BODY_BYTES)
        except BrotliError as exc:
            raise ValueError(f"content-encoding: br: {exc}") from exc
    raise ValueError(f"content-encoding: unknown coding {coding!r}")


#: <meta charset=...> / <meta http-equiv content charset= patterns,
#: scanned over the first 1024 DECODED-body bytes (WHATWG-style)
_META_CHARSET = _re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([A-Za-z0-9_.:-]+)""",
    _re.IGNORECASE,
)


def _sniff_charset(head: bytes) -> str | None:
    """Charset for a response whose Content-Type names none: BOM
    first (UTF-8 / UTF-16 LE/BE), then a `<meta charset>` /
    `<meta http-equiv Content-Type>` declaration within the first
    1024 bytes — the WHATWG sniffing ladder a crawler needs because
    header-less pages are common in the wild. None = no signal
    (caller falls back to UTF-8-with-replacement)."""
    if head.startswith(b"\xef\xbb\xbf"):
        return "utf-8"
    if head.startswith(b"\xff\xfe"):
        return "utf-16-le"
    if head.startswith(b"\xfe\xff"):
        return "utf-16-be"
    m = _META_CHARSET.search(head)
    if m:
        try:
            name = m.group(1).decode("ascii").lower()
        except UnicodeDecodeError:
            return None
        import codecs

        try:
            codecs.lookup(name)
        except LookupError:
            return None
        return name
    return None


def parse_http_response(payload: bytes) -> dict:
    """HTTP/1.x response → {"status": int, "headers": {lower: value},
    "body": bytes, "charset": str, "content_encoding": str | None,
    "body_decoded": bool}. ValueError on unparseable framing (no
    status line / header block).

    Body handling is lossy-tolerant, framing-strict: chunked
    transfer-decoding then Content-Encoding decoding (gzip/x-gzip and
    both deflate flavors via zlib, zstd via the native RFC 8878
    codec, br via the native RFC 7932 codec). `body_decoded` is False
    when an encoding was declared but could not be undone (corrupt
    stream, bomb-guard hit) — callers treating the body as
    text MUST check it, else a still-compressed body reads as binary
    garbage; `identity`/absent encodings are trivially True."""
    sep = payload.find(b"\r\n\r\n")
    if sep < 0:
        raise ValueError("HTTP: missing header terminator")
    head = payload[:sep].decode("latin-1")
    lines = head.split("\r\n")
    status_parts = lines[0].split(None, 2)
    if len(status_parts) < 2 or not status_parts[0].startswith("HTTP/"):
        raise ValueError(f"HTTP: bad status line {lines[0][:40]!r}")
    try:
        status = int(status_parts[1])
    except ValueError:
        raise ValueError(f"HTTP: bad status code {status_parts[1]!r}") from None
    headers: dict[str, str] = {}
    for line in lines[1:]:
        name, s, value = line.partition(":")
        if s:
            headers[name.strip().lower()] = value.strip()
    body = payload[sep + 4 :]
    if headers.get("transfer-encoding", "").lower() == "chunked":
        try:
            body = _dechunk(body)
        except ValueError:
            pass  # messy crawl data: keep the raw body
    coding = headers.get("content-encoding", "").strip().lower() or None
    body_decoded = True
    if coding and coding != "identity":
        # multiple codings (e.g. "gzip, br") are applied in order, so
        # undone right-to-left; any failure keeps the raw body
        try:
            decoded = body
            for c in reversed([t.strip() for t in coding.split(",")]):
                decoded = _decode_content(decoded, c)
            body = decoded  # only on full success: never a half-undone body
        except (ValueError, zlib.error):
            body_decoded = False
    charset = None
    ctype = headers.get("content-type", "")
    for token in ctype.split(";")[1:]:
        k, _, v = token.strip().partition("=")
        if k.lower() == "charset" and v:
            charset = v.strip("\"' ").lower() or None
    if charset is None and body_decoded:
        charset = _sniff_charset(bytes(body[:1024]))
    charset = charset or "utf-8"
    return {
        "status": status,
        "headers": headers,
        "body": bytes(body),
        "charset": charset,
        "content_encoding": coding,
        "body_decoded": body_decoded,
    }


#: subtrees that never contribute crawl edges — unlike the TEXT
#: drop set this keeps `head`, because `<base href>` lives there
_LINK_DROP = _DROP - {"head"}


class _LinkExtractor(HTMLParser):
    """href harvester: <a href> outside dropped subtrees, base-href
    aware."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.links: list[str] = []
        self.base: str | None = None
        self.drop_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in _LINK_DROP:
            self.drop_depth += 1
            return
        if self.drop_depth:
            return
        if tag == "base" and self.base is None:
            for k, v in attrs:
                if k == "href" and v:
                    self.base = v
        elif tag == "a":
            for k, v in attrs:
                if k == "href" and v:
                    self.links.append(v)

    def handle_endtag(self, tag):
        if tag in _LINK_DROP and self.drop_depth:
            self.drop_depth -= 1


def extract_links(html: str, page_url: str | None = None) -> list[str]:
    """Outbound links of a page: every `<a href>` outside dropped
    subtrees, resolved against `<base href>` (first wins) or
    `page_url` per RFC 3986 reference resolution, in document order,
    duplicates preserved (the caller dedups — a link graph may want
    multiplicity). Fragment-only, javascript:, mailto:, tel:, and
    data: references are dropped — they are not crawl edges. The
    feeder of the link-graph quality prior
    (`operators.graph.page_rank`): WARC response → `html_to_text`'s
    sibling pass → edges."""
    from urllib.parse import urljoin

    ex = _LinkExtractor()
    _feed(ex, html)
    root = ex.base or page_url
    if root and page_url:
        root = urljoin(page_url, root)  # relative <base> resolves too
    out: list[str] = []
    for href in ex.links:
        h = href.strip()
        if not h or h.startswith("#"):
            continue
        low = h.lower()
        if low.startswith(("javascript:", "mailto:", "tel:", "data:")):
            continue
        if root:
            try:
                h = urljoin(root, h)
            except ValueError:
                continue
        h = h.split("#", 1)[0]  # fragments are not crawl edges
        if h:
            out.append(h)
    return out
