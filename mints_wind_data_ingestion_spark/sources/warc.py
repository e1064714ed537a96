"""WARC / WET / compressed-JSONL text-container ingestion — the
CommonCrawl-class "first mile" of an LLM data pipeline (VERDICT r13
"What's missing" #1).

Written from public specifications only:

- WARC 1.0/1.1 record framing: ISO 28500 (the IIPC-published WARC
  spec) — version line, named header fields, Content-Length block,
  CRLF CRLF record terminator;
- gzip member framing and trailer CRC: RFC 1952 (decoded via stdlib
  `zlib` with the gzip wrapper, which verifies the trailer CRC32 and
  ISIZE);
- the CommonCrawl convention of one gzip MEMBER per WARC record in
  `.warc.gz` / `.wet.gz` files, which is what makes byte-range record
  access possible — the fixture encoder reproduces it.

Spark shape: `binaryFile` scan → the package's one file-to-rows
Arrow UDTF (`sources._file_rows_df`) → one row per WARC record, with
the engine's standard typed-quarantine contract (sources/grib.py
`scan_binary_df` is the template): a
truncated gzip member, a trailer CRC mismatch, an oversized
(decompression-bomb) member, or malformed WARC framing becomes an
`error` row carrying the offending file/offset — never an exception
out of the UDTF, and never a silently dropped sibling record.

zstd-compressed containers (`.zst`) are IMPORT-GATED exactly like the
multimodal MP3/AAC gates: the stdlib has no zstd codec, so absent the
`zstandard` package the member quarantines with a typed error naming
the gate; with it present the same record walk applies.

At 100 TB: one task per file via binaryFile (CommonCrawl WET files
are ~150 MB compressed — a good task size); the record walk is
single-pass streaming decompression with a bounded per-member buffer,
and every downstream operator sees ordinary (doc-ish) rows, so the
engine's dedup/quality/curation surface applies unchanged.
"""

from __future__ import annotations

import zlib
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import _file_rows_df

__all__ = [
    "encode_wet",
    "iter_gzip_members",
    "parse_warc_stream",
    "jsonl_records",
    "scan_jsonl_df",
    "scan_wet_df",
    "wet_conversion_texts",
    "wet_documents",
]

#: decompression-bomb guard: max decompressed bytes per gzip/zstd
#: member. A 40-byte gzip member can inflate ~1000:1; CommonCrawl WET
#: members are single documents (KBs-MBs), so 256 MB is far above any
#: legitimate record while bounding what a hostile member can demand.
_MAX_MEMBER_BYTES = 1 << 28

_GZIP_MAGIC = b"\x1f\x8b"
_ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"
_XZ_MAGIC = b"\xfd7zXZ\x00"
_BZ2_MAGIC = b"BZh"


def iter_gzip_members(
    data: bytes, max_member_bytes: int = _MAX_MEMBER_BYTES
) -> Iterator[tuple[int, bytes]]:
    """Walk a multi-member gzip stream: yields (compressed_offset,
    decompressed_bytes) per member. Raises ValueError (the quarantine
    class) on a truncated member, a trailer CRC/length mismatch
    (zlib: "incorrect data check" / "incorrect length check"), bad
    magic, or a member inflating past `max_member_bytes`."""
    pos = 0
    n = len(data)
    while pos < n:
        if data[pos : pos + 2] != _GZIP_MAGIC:
            raise ValueError(
                f"gzip: bad magic at member offset {pos}"
            )
        d = zlib.decompressobj(wbits=31)
        out = bytearray()
        try:
            chunk = d.decompress(data[pos:], max_member_bytes + 1)
            out += chunk
            while not d.eof and d.unconsumed_tail:
                out += d.decompress(d.unconsumed_tail, max_member_bytes + 1)
                if len(out) > max_member_bytes:
                    raise ValueError(
                        f"gzip: member at offset {pos} exceeds the "
                        f"{max_member_bytes}-byte decompression-bomb guard"
                    )
        except zlib.error as exc:  # bad CRC / corrupt deflate stream
            raise ValueError(f"gzip: {exc} (member offset {pos})") from exc
        if len(out) > max_member_bytes:
            raise ValueError(
                f"gzip: member at offset {pos} exceeds the "
                f"{max_member_bytes}-byte decompression-bomb guard"
            )
        if not d.eof:
            raise ValueError(
                f"gzip: truncated member at offset {pos}"
            )
        consumed = (n - pos) - len(d.unused_data)
        yield pos, bytes(out)
        pos += consumed


def _iter_decompressor_members(
    data: bytes,
    make,
    fmt: str,
    max_member_bytes: int,
    errors: tuple = (),
) -> Iterator[tuple[int, bytes]]:
    """Generic multi-member walk over stdlib Decompressor objects
    (lzma.LZMADecompressor / bz2.BZ2Decompressor — both expose
    decompress(max_length)/eof/unused_data/needs_input), mirroring
    `iter_gzip_members`' quarantine classes: truncation, stream
    corruption (format-specific exceptions → ValueError), and the
    decompression-bomb guard."""
    pos = 0
    n = len(data)
    while pos < n:
        d = make()
        out = bytearray()
        chunk_in = data[pos:]
        try:
            out += d.decompress(chunk_in, max_member_bytes + 1)
            while not d.eof and not d.needs_input:
                out += d.decompress(b"", max_member_bytes + 1)
                if len(out) > max_member_bytes:
                    break
        except errors as exc:
            raise ValueError(
                f"{fmt}: {exc} (member offset {pos})"
            ) from exc
        if len(out) > max_member_bytes:
            raise ValueError(
                f"{fmt}: member at offset {pos} exceeds the "
                f"{max_member_bytes}-byte decompression-bomb guard"
            )
        if not d.eof:
            raise ValueError(f"{fmt}: truncated member at offset {pos}")
        consumed = len(chunk_in) - len(d.unused_data)
        yield pos, bytes(out)
        pos += consumed
        # xz streams may be padded with 4-byte zero blocks between
        # members (the xz container spec's Stream Padding)
        while fmt == "xz" and data[pos : pos + 4] == b"\x00\x00\x00\x00":
            pos += 4


def _iter_xz_members(
    data: bytes, max_member_bytes: int
) -> Iterator[tuple[int, bytes]]:
    import lzma

    return _iter_decompressor_members(
        data,
        lambda: lzma.LZMADecompressor(format=lzma.FORMAT_XZ),
        "xz",
        max_member_bytes,
        errors=(lzma.LZMAError,),
    )


def _iter_bz2_members(
    data: bytes, max_member_bytes: int
) -> Iterator[tuple[int, bytes]]:
    import bz2

    return _iter_decompressor_members(
        data, bz2.BZ2Decompressor, "bz2", max_member_bytes, errors=(OSError,)
    )


def _decompress_zstd(data: bytes, max_member_bytes: int) -> bytes:
    """zstd decode — NATIVE since r14 (`sources.zstdcodec`, RFC 8878:
    full frame/block/FSE/Huffman surface, checksum-verified, bomb
    guard; dictionary frames raise a typed gate). Until r14 this was
    a `zstandard` import gate; the binding now serves only as the
    optional cross-check in tests/test_decoder_dispatch.py."""
    from .zstdcodec import decompress_zstd

    return decompress_zstd(data, max_output=max_member_bytes)


def parse_warc_stream(data: bytes) -> Iterator[dict]:
    """Iterate WARC records in an UNCOMPRESSED stream: yields
    {"offset", "headers": {lower-name: value}, "payload": bytes} per
    record. Raises ValueError on malformed framing (bad version line,
    missing/invalid Content-Length, truncated block, missing CRLF CRLF
    terminator) — the caller decides the quarantine granularity."""
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate inter-record CRLF padding some writers emit
        while pos < n and data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            return
        start = pos
        eol = data.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError(f"WARC: truncated version line at {start}")
        version = data[pos:eol]
        if not version.startswith(b"WARC/"):
            raise ValueError(
                f"WARC: bad version line at offset {start}: "
                f"{version[:24]!r}"
            )
        hdr_end = data.find(b"\r\n\r\n", eol)
        if hdr_end < 0:
            raise ValueError(f"WARC: truncated header block at {start}")
        headers: dict[str, str] = {}
        for line in data[eol + 2 : hdr_end].split(b"\r\n"):
            name, sep, value = line.partition(b":")
            if not sep:
                raise ValueError(
                    f"WARC: malformed header line at {start}: {line[:40]!r}"
                )
            headers[name.strip().lower().decode("ascii", "replace")] = (
                value.strip().decode("utf-8", "replace")
            )
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError(
                f"WARC: missing or invalid Content-Length at {start}"
            ) from None
        if clen < 0:
            raise ValueError(f"WARC: negative Content-Length at {start}")
        body_start = hdr_end + 4
        if body_start + clen > n:
            raise ValueError(
                f"WARC: truncated content block at {start} "
                f"(need {clen} bytes, have {n - body_start})"
            )
        body_end = body_start + clen
        if data[body_end : body_end + 4] not in (b"\r\n\r\n", b""):
            # the spec terminator is CRLF CRLF; EOF right after the
            # block is tolerated (final record of a member)
            raise ValueError(
                f"WARC: missing record terminator after block at {start}"
            )
        yield {
            "offset": start,
            "headers": headers,
            "payload": data[body_start:body_end],
        }
        pos = body_end + 4


#: scan_wet_df output — quarantine columns + the typed record
WARC_SCAN_SCHEMA = StructType(
    [
        StructField("source_path", StringType()),
        StructField("member_offset", LongType()),
        StructField("record_offset", LongType()),
        StructField("error", StringType()),
        StructField("warc_type", StringType()),
        StructField("record_id", StringType()),
        StructField("warc_date", StringType()),
        StructField("target_uri", StringType()),
        StructField("content_type", StringType()),
        StructField("content_length", LongType()),
        StructField("text", StringType()),
    ]
)

_COLUMNS = [f.name for f in WARC_SCAN_SCHEMA.fields]


def _extract_text(warc_type: str | None, ctype: str | None,
                  payload: bytes) -> str | None:
    """Per-record text extraction: text/* payloads decode as UTF-8
    with replacement (the WET convention); `response` records whose
    payload is an HTTP response wrapping text/HTML go through the
    native HTTP parse + HTML extraction (r14,
    functions/html.py) — the step that turns a raw .warc.gz into WET.
    Extraction is LOSSY-TOLERANT (NULL on failure, metadata kept);
    container/record framing is not (those are error rows)."""
    base = (ctype or "").split(";")[0].strip().lower()
    if base.startswith("text/") and base != "text/html":
        return payload.decode("utf-8", "replace")
    if base in ("text/html", "application/xhtml+xml"):
        from ..functions.html import html_to_text

        return html_to_text(payload.decode("utf-8", "replace"))
    if base == "application/http" and warc_type == "response":
        from ..functions.html import html_to_text, parse_http_response

        try:
            resp = parse_http_response(payload)
        except ValueError:
            return None
        if not resp["body_decoded"]:
            # declared Content-Encoding the parse could not undo
            # (corrupt stream / bomb guard / brotli absent): a
            # still-compressed body would read as binary garbage —
            # NULL text, metadata kept (the lossy-tolerant contract)
            return None
        inner = resp["headers"].get("content-type", "")
        inner_base = inner.split(";")[0].strip().lower()
        try:
            decoded = resp["body"].decode(resp["charset"], "replace")
        except LookupError:  # unknown charset label in the wild
            decoded = resp["body"].decode("utf-8", "replace")
        if inner_base in ("text/html", "application/xhtml+xml"):
            return html_to_text(decoded)
        if inner_base.startswith("text/"):
            return decoded
    return None


def _record_row(path: str, m_off: int, rec: dict) -> dict:
    h = rec["headers"]
    ctype = h.get("content-type")
    warc_type = h.get("warc-type")
    return {
        "source_path": path,
        "member_offset": m_off,
        "record_offset": rec["offset"],
        "error": None,
        "warc_type": warc_type,
        "record_id": h.get("warc-record-id"),
        "warc_date": h.get("warc-date"),
        "target_uri": h.get("warc-target-uri"),
        "content_type": ctype,
        "content_length": len(rec["payload"]),
        "text": _extract_text(warc_type, ctype, rec["payload"]),
    }


def _error_row(path: str, m_off: int, r_off, err: str) -> dict:
    row = {c: None for c in _COLUMNS}
    row.update(
        source_path=path,
        member_offset=m_off,
        record_offset=r_off,
        error=err,
    )
    return row


def scan_warc_bytes(
    path: str,
    content: bytes,
    max_member_bytes: int = _MAX_MEMBER_BYTES,
) -> list[dict]:
    """One file → record/quarantine rows (the pure-Python core of
    `scan_wet_df`, exposed for tests and the streaming gate).

    Granularity: one corrupt gzip member yields ONE error row and
    never poisons sibling members; malformed WARC framing inside a
    member yields the records parsed before the break plus one error
    row for the remainder. A stream-level gzip fault (framing lost)
    quarantines the rest of the file as one row."""
    rows: list[dict] = []
    members = _members_for(content, max_member_bytes)
    while True:
        try:
            m_off, blob = next(members)
        except StopIteration:
            break
        except ValueError as exc:
            # container framing is lost from here on — quarantine the
            # rest of the file as one row
            rows.append(_error_row(path, -1, None, str(exc)))
            break
        try:
            for rec in parse_warc_stream(blob):
                rows.append(_record_row(path, m_off, rec))
        except ValueError as exc:
            rows.append(_error_row(path, m_off, None, str(exc)))
    return rows


def _members_for(
    content: bytes, max_member_bytes: int
) -> Iterator[tuple[int, bytes]]:
    """Container dispatch by magic: multi-member gzip/xz/bz2 walks
    (all stdlib), the zstd gate, or the raw bytes as one member."""
    if content[:2] == _GZIP_MAGIC:
        return iter_gzip_members(content, max_member_bytes)
    if content[:6] == _XZ_MAGIC:
        return _iter_xz_members(content, max_member_bytes)
    if content[:3] == _BZ2_MAGIC:
        return _iter_bz2_members(content, max_member_bytes)
    if content[:4] == _ZSTD_MAGIC:
        def _one_zstd() -> Iterator[tuple[int, bytes]]:
            yield 0, _decompress_zstd(content, max_member_bytes)

        return _one_zstd()
    return iter(((0, content),))


def scan_wet_df(
    binary: DataFrame, max_member_bytes: int = _MAX_MEMBER_BYTES
) -> DataFrame:
    """Quarantine-not-corrupt WARC/WET scan over a (path, content)
    binary DataFrame — one row per record, error rows for corrupt
    members/framing; `df.filter("error IS NOT NULL")` IS the
    quarantine table (the grib scan_binary_df contract)."""
    return _file_rows_df(
        binary,
        lambda path, content: scan_warc_bytes(path, content, max_member_bytes),
        WARC_SCAN_SCHEMA,
    )


def wet_conversion_texts(scanned: DataFrame) -> DataFrame:
    """The WET payload a curation pipeline consumes: conversion
    records with extracted text (error rows and non-text records
    filtered out — review them via the quarantine filter)."""
    return scanned.filter(
        "error IS NULL AND warc_type = 'conversion' AND text IS NOT NULL"
    )


def wet_documents(scanned: DataFrame) -> DataFrame:
    """Adapter: a scanned WET corpus → the engine's `documents` shape
    (doc_id, text, source) so every dedup / quality / curation
    operator applies to a crawl dir unchanged — WET `conversion`
    records AND raw-WARC `response` records (whose text came through
    the native HTTP + HTML extraction) alike. doc_id is the xxhash64
    of (record_id, target_uri) — stable across re-scans, collision
    odds the same documented ~n²/2⁶⁴ class as the shingle hashing."""
    from pyspark.sql import functions as F

    texts = scanned.filter(
        "error IS NULL AND text IS NOT NULL "
        "AND warc_type IN ('conversion', 'response')"
    )
    return texts.select(
        F.xxhash64("record_id", "target_uri").alias("doc_id"),
        F.col("text"),
        F.col("target_uri").alias("source"),
    )


def jsonl_records(scanned: DataFrame, schema: str) -> DataFrame:
    """Adapter: scanned JSONL lines → typed records via an EXPLICIT
    schema (`F.from_json` — schema-on-read stays declared, the S3
    convention). Unparseable lines keep their row with the raw line
    in `_corrupt` (PERMISSIVE mode's corrupt-record column) so
    nothing silently drops: `filter("_corrupt IS NOT NULL")` is the
    parse-quarantine view."""
    from pyspark.sql import functions as F

    parsed = scanned.filter("error IS NULL").select(
        "source_path",
        "line_no",
        F.from_json(
            "line",
            f"{schema}, _corrupt string",
            {"columnNameOfCorruptRecord": "_corrupt"},
        ).alias("rec"),
    )
    return parsed.select("source_path", "line_no", "rec.*")


# ---------------------------------------------------------------------------
# fixture half — deterministic WET writer (CommonCrawl member-per-record)
# ---------------------------------------------------------------------------


def _gzip_member(raw: bytes, level: int = 6) -> bytes:
    """One deterministic gzip member (zlib's gzip wrapper: zero mtime,
    fixed XFL/OS — byte-stable across runs, unlike `gzip.compress`
    which stamps wall-clock mtime)."""
    c = zlib.compressobj(level, zlib.DEFLATED, 31)
    return c.compress(raw) + c.flush()


def encode_wet(records: list[dict], compress: bool = True) -> bytes:
    """Serialize records as a WET file — one gzip member per record
    when `compress` (the CommonCrawl layout), else a plain WARC
    stream. Each record: {"target_uri", "text", optional "date",
    "record_id", "warc_type", "content_type"}. `text` may be bytes
    for binary payloads (e.g. a Content-Encoding'd HTTP response)."""
    out = bytearray()
    for r in records:
        t = r["text"]
        payload = t if isinstance(t, bytes) else t.encode("utf-8")
        headers = [
            ("WARC-Type", r.get("warc_type", "conversion")),
            ("WARC-Target-URI", r["target_uri"]),
            ("WARC-Date", r.get("date", "2026-01-01T00:00:00Z")),
            ("WARC-Record-ID", r.get("record_id", "<urn:uuid:0>")),
            ("Content-Type", r.get("content_type", "text/plain")),
            ("Content-Length", str(len(payload))),
        ]
        raw = (
            b"WARC/1.0\r\n"
            + b"".join(
                f"{k}: {v}\r\n".encode("utf-8") for k, v in headers
            )
            + b"\r\n"
            + payload
            + b"\r\n\r\n"
        )
        out += _gzip_member(raw) if compress else raw
    return bytes(out)


# ---------------------------------------------------------------------------
# compressed JSONL (the other first-mile container)
# ---------------------------------------------------------------------------

JSONL_SCAN_SCHEMA = StructType(
    [
        StructField("source_path", StringType()),
        StructField("member_offset", LongType()),
        StructField("line_no", LongType()),
        StructField("error", StringType()),
        StructField("line", StringType()),
    ]
)


def scan_jsonl_bytes(
    path: str,
    content: bytes,
    max_member_bytes: int = _MAX_MEMBER_BYTES,
) -> list[dict]:
    """One gzip/zstd/plain JSONL file → line rows + typed quarantine
    rows (truncated member, bad CRC, bomb guard, zstd gate). Line
    numbering is per-file and continuous across members."""
    rows: list[dict] = []
    members = _members_for(content, max_member_bytes)
    line_no = 0
    while True:
        try:
            m_off, blob = next(members)
        except StopIteration:
            break
        except ValueError as exc:
            rows.append(
                {
                    "source_path": path, "member_offset": -1,
                    "line_no": None, "error": str(exc), "line": None,
                }
            )
            break
        for raw in blob.split(b"\n"):
            if not raw.strip():
                continue
            rows.append(
                {
                    "source_path": path,
                    "member_offset": m_off,
                    "line_no": line_no,
                    "error": None,
                    "line": raw.decode("utf-8", "replace"),
                }
            )
            line_no += 1
    return rows


def scan_jsonl_df(
    binary: DataFrame, max_member_bytes: int = _MAX_MEMBER_BYTES
) -> DataFrame:
    """(path, content) binary DataFrame → one row per JSONL line with
    the typed-quarantine contract. Parse the `line` column with
    `F.from_json` downstream — schema-on-read stays explicit, exactly
    like `read_wind_json` (SURVEY S3)."""
    return _file_rows_df(
        binary,
        lambda path, content: scan_jsonl_bytes(path, content, max_member_bytes),
        JSONL_SCAN_SCHEMA,
    )
