"""CDXJ (CommonCrawl URL index) scanner — the crawl SELECTION step.

A real 100 TB pipeline does not scan every WARC: it selects records
through the cc-index — CDXJ files of `<urlkey> <timestamp14> <json>`
lines sorted by SURT urlkey, where the JSON carries the WARC
filename/offset/length of each capture. Selection = filter the index
(by urlkey prefix / mime / status / latest-capture), then ranged-
fetch exactly those byte spans (`operators.fetch`'s `.idx` byte-range
path) and WARC-parse them (`sources.warc`). This module supplies the
index half, completing the chain:

    cc-index (here) → ranged fetch → WARC parse → HTTP/HTML decode

Quarantine-not-corrupt (the grib/warc scan contract): a malformed
line (wrong field count, non-14-digit timestamp, bad JSON) yields one
typed error row and never poisons its file; container corruption
surfaces through the gzip walk's typed classes. Scale shape: one
Arrow pass over (path, content), no shuffle; the index is naturally
partitioned by shard file and sorted by urlkey within — range
predicates on `urlkey` prune shards at the scan.

No reference analogue (the reference fetches whole GRIB files by
URL template — `converter.py:136-142`); this is the mandated
LLM-pipeline extension surface.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

from . import _file_rows_df
from .warc import _MAX_MEMBER_BYTES, iter_gzip_members

__all__ = [
    "CDX_SCAN_SCHEMA",
    "SITEMAP_SCAN_SCHEMA",
    "scan_cdxj_bytes",
    "scan_cdxj_df",
    "scan_sitemap_bytes",
    "scan_sitemap_df",
    "encode_cdxj",
    "encode_sitemap",
]

#: scan output — quarantine columns + the typed capture record
CDX_SCAN_SCHEMA = StructType(
    [
        StructField("source_path", StringType()),
        StructField("line_no", LongType()),
        StructField("error", StringType()),
        StructField("urlkey", StringType()),
        StructField("ts", StringType()),       # 14-digit capture time
        StructField("url", StringType()),
        StructField("status", StringType()),
        StructField("mime", StringType()),
        StructField("digest", StringType()),
        StructField("warc_filename", StringType()),
        StructField("warc_offset", LongType()),
        StructField("warc_length", LongType()),
    ]
)

_COLUMNS = [f.name for f in CDX_SCAN_SCHEMA.fields]


def _err(path: str, line_no: int, err: str) -> dict:
    row = {c: None for c in _COLUMNS}
    row.update(source_path=path, line_no=line_no, error=err)
    return row


def _long(v) -> int | None:
    # cc-index JSON carries numerics as strings
    return None if v is None else int(v)


def scan_cdxj_bytes(
    path: str,
    content: bytes,
    max_member_bytes: int = _MAX_MEMBER_BYTES,
) -> list[dict]:
    """One index shard (.cdxj / .cdxj.gz, multi-member tolerated) →
    capture/quarantine rows; the pure core of `scan_cdxj_df`."""
    rows: list[dict] = []
    if content[:2] == b"\x1f\x8b":
        try:
            parts = [
                m for _, m in iter_gzip_members(content, max_member_bytes)
            ]
        except ValueError as exc:
            return [_err(path, -1, str(exc))]
        text = b"".join(parts)
    else:
        text = content
    for i, raw in enumerate(text.split(b"\n")):
        if not raw.strip():
            continue
        try:
            line = raw.decode("utf-8")
        except UnicodeDecodeError as exc:
            rows.append(_err(path, i, f"cdxj: {exc}"))
            continue
        fields = line.split(" ", 2)
        if len(fields) != 3:
            rows.append(_err(path, i, "cdxj: expected 3 fields"))
            continue
        urlkey, ts, blob = fields
        if len(ts) != 14 or not ts.isdigit():
            rows.append(_err(path, i, f"cdxj: bad timestamp {ts[:20]!r}"))
            continue
        try:
            meta = json.loads(blob)
            if not isinstance(meta, dict):
                raise ValueError("not an object")
            rows.append(
                {
                    "source_path": path,
                    "line_no": i,
                    "error": None,
                    "urlkey": urlkey,
                    "ts": ts,
                    "url": meta.get("url"),
                    "status": meta.get("status"),
                    "mime": meta.get("mime"),
                    "digest": meta.get("digest"),
                    "warc_filename": meta.get("filename"),
                    "warc_offset": _long(meta.get("offset")),
                    "warc_length": _long(meta.get("length")),
                }
            )
        except (ValueError, TypeError) as exc:
            rows.append(_err(path, i, f"cdxj: bad json ({exc})"))
    return rows


def scan_cdxj_df(
    binary: DataFrame, max_member_bytes: int = _MAX_MEMBER_BYTES
) -> DataFrame:
    """Quarantine-not-corrupt CDXJ scan over a (path, content) binary
    DataFrame — one row per capture, error rows for malformed lines;
    `df.filter("error IS NOT NULL")` IS the quarantine table."""
    return _file_rows_df(
        binary,
        lambda path, content: scan_cdxj_bytes(path, content, max_member_bytes),
        CDX_SCAN_SCHEMA,
    )


def encode_cdxj(captures: list[dict], compress: bool = True) -> bytes:
    """Serialize captures as a CDXJ shard (sorted by urlkey then ts —
    the cc-index convention). Each capture: {"urlkey", "ts", and any
    of url/status/mime/digest/filename/offset/length (numerics become
    strings, as in the real index)}. Deterministic; the fixture twin
    of `scan_cdxj_bytes`."""
    lines = []
    for c in sorted(captures, key=lambda c: (c["urlkey"], c["ts"])):
        meta = {
            k: (str(v) if k in ("offset", "length") else v)
            for k, v in c.items()
            if k not in ("urlkey", "ts") and v is not None
        }
        lines.append(
            f"{c['urlkey']} {c['ts']} "
            + json.dumps(meta, sort_keys=True, separators=(",", ":"))
        )
    blob = ("\n".join(lines) + "\n").encode("utf-8")
    if compress:
        from .warc import _gzip_member

        return _gzip_member(blob)
    return blob


# ---------------------------------------------------------------------------
# sitemaps — the discovery half robots.txt points at (Sitemap: lines)
# ---------------------------------------------------------------------------

SITEMAP_SCAN_SCHEMA = StructType(
    [
        StructField("source_path", StringType()),
        StructField("entry_no", LongType()),
        StructField("error", StringType()),
        StructField("kind", StringType()),     # 'url' | 'sitemap'
        StructField("loc", StringType()),
        StructField("lastmod", StringType()),
        StructField("changefreq", StringType()),
        StructField("priority", StringType()),
    ]
)

_SM_COLUMNS = [f.name for f in SITEMAP_SCAN_SCHEMA.fields]

#: sitemaps.org namespace (the only one the format defines)
_SM_NS = "{http://www.sitemaps.org/schemas/sitemap/0.9}"


def scan_sitemap_bytes(path: str, content: bytes) -> list[dict]:
    """One sitemap / sitemap-index document (XML, optionally a gzip
    member — the sitemap.xml.gz convention) → entry rows; a malformed
    document yields ONE typed error row (quarantine-not-corrupt).
    `<urlset>` yields kind='url' rows (loc/lastmod/changefreq/
    priority); `<sitemapindex>` yields kind='sitemap' rows pointing
    at child sitemaps — the caller's frontier loop fetches those."""
    import xml.etree.ElementTree as ET

    if content[:2] == b"\x1f\x8b":
        try:
            content = b"".join(
                m for _, m in iter_gzip_members(content)
            )
        except ValueError as exc:
            return [_sm_err(path, str(exc))]
    try:
        root = ET.fromstring(content)
    except ET.ParseError as exc:
        return [_sm_err(path, f"sitemap: {exc}")]
    tag = root.tag
    if tag == f"{_SM_NS}urlset":
        child, kind = f"{_SM_NS}url", "url"
    elif tag == f"{_SM_NS}sitemapindex":
        child, kind = f"{_SM_NS}sitemap", "sitemap"
    else:
        return [_sm_err(path, f"sitemap: unexpected root {tag[:80]!r}")]
    rows = []
    for i, el in enumerate(root.findall(child)):
        loc = el.findtext(f"{_SM_NS}loc")
        if loc is None or not loc.strip():
            rows.append(_sm_err(path, "sitemap: entry without <loc>", i))
            continue
        rows.append(
            {
                "source_path": path,
                "entry_no": i,
                "error": None,
                "kind": kind,
                "loc": loc.strip(),
                "lastmod": (el.findtext(f"{_SM_NS}lastmod") or None),
                "changefreq": (el.findtext(f"{_SM_NS}changefreq") or None),
                "priority": (el.findtext(f"{_SM_NS}priority") or None),
            }
        )
    return rows


def _sm_err(path: str, err: str, entry_no: int = -1) -> dict:
    row = {c: None for c in _SM_COLUMNS}
    row.update(source_path=path, entry_no=entry_no, error=err)
    return row


def scan_sitemap_df(binary: DataFrame) -> DataFrame:
    """Quarantine-not-corrupt sitemap scan over (path, content)."""
    return _file_rows_df(binary, scan_sitemap_bytes, SITEMAP_SCAN_SCHEMA)


def encode_sitemap(
    entries: list[dict], index: bool = False, compress: bool = False
) -> bytes:
    """Deterministic sitemap / sitemap-index document; the fixture
    twin of `scan_sitemap_bytes`. Entries: {"loc", optional
    "lastmod"/"changefreq"/"priority"}."""
    root = "sitemapindex" if index else "urlset"
    child = "sitemap" if index else "url"
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>\n',
        f'<{root} xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n',
    ]
    for e in entries:
        parts.append(f"  <{child}>\n    <loc>{e['loc']}</loc>\n")
        for k in ("lastmod", "changefreq", "priority"):
            if e.get(k) is not None:
                parts.append(f"    <{k}>{e[k]}</{k}>\n")
        parts.append(f"  </{child}>\n")
    parts.append(f"</{root}>\n")
    blob = "".join(parts).encode("utf-8")
    if compress:
        from .warc import _gzip_member

        return _gzip_member(blob)
    return blob
