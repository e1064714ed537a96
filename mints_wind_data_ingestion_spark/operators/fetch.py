"""Executable fetch stage (SURVEY.md §2.1 S1, converter.py:136-177).

The reference's download step is an imperative driver-side loop:
`urllib2.urlopen(url)` on the constructed GFS path, URLError → try the
next candidate, then `open(dataPath,"wb").write(body)`
(converter.py:142, 172-177). Here the fetch itself is an OPERATOR over
the candidate-URL DataFrame (`operators.discovery.candidates`): an
Arrow-batched pass through the package's one Python row node
(`sources.arrow_rows`) fetches each row's URL executor-side
and appends (ok, error, content) columns — absence becomes a FALSE row
instead of a control-flow exception, so `freshest_available` semantics
compose as a plain filter + limit(1) instead of a retry loop.

Scale shape: the fetch fans out one task per candidate-partition —
1000 executors pull 1000 files concurrently, which is exactly the
scale-out sketch SURVEY.md §2.1 S1 describes. Politeness/bounding is
the candidate set's job (≤40 rows in the reference's use), not the
operator's.

Schemes: `file://` URLs and bare local paths are always handled
(landing-dir / fixture-tree replay — the test surface in this
container, which has no network); `http(s)://` goes through stdlib
urllib with a timeout and bounded retries. The fetched bytes ride the
DataFrame as a `binary` column feeding `sources.grib.decode_binary_df`
directly — no intermediate landing write needed. `stage_to_dir`
provides the reference's staging behavior (S9) when a watched landing
dir IS the integration point (streaming ingest).
"""

from __future__ import annotations

import os
from urllib.parse import urlparse
from urllib.request import url2pathname

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from ..sources import arrow_rows

__all__ = [
    "fetch_binary",
    "probe_binary",
    "stage_to_dir",
    "parse_grib_idx",
    "select_idx_records",
    "fetch_grib_ranges",
]


def _fetch_one(url: str, timeout: float, retries: int) -> tuple[bytes | None, str | None]:
    """(content, error) for one URL. file:// and bare paths read the
    local filesystem; http(s):// uses urllib. Missing → (None, msg)."""
    scheme = urlparse(url).scheme
    if scheme in ("", "file"):
        path = url2pathname(urlparse(url).path) if scheme == "file" else url
        try:
            with open(path, "rb") as fh:
                return fh.read(), None
        except OSError as exc:
            return None, f"{type(exc).__name__}: {exc}"
    if scheme in ("http", "https"):
        from urllib.error import URLError
        from urllib.request import urlopen

        last = "unreachable"
        for _ in range(max(1, retries)):
            try:
                with urlopen(url, timeout=timeout) as resp:  # noqa: S310
                    return resp.read(), None
            except (URLError, OSError) as exc:
                last = f"{type(exc).__name__}: {exc}"
        return None, last
    return None, f"unsupported scheme: {scheme}"


def _probe_one(url: str, timeout: float) -> tuple[bool, str | None]:
    """(exists, error) without transferring the body — the reference's
    urlopen-success-before-body-read distinction (converter.py:142 vs
    :175). file://: stat; http(s): HEAD request."""
    scheme = urlparse(url).scheme
    if scheme in ("", "file"):
        path = url2pathname(urlparse(url).path) if scheme == "file" else url
        ok = os.path.isfile(path)
        return ok, None if ok else "not found"
    if scheme in ("http", "https"):
        from urllib.error import URLError
        from urllib.request import Request, urlopen

        try:
            with urlopen(  # noqa: S310
                Request(url, method="HEAD"), timeout=timeout
            ) as resp:
                return resp.status < 400, None
        except (URLError, OSError) as exc:
            return False, f"{type(exc).__name__}: {exc}"
    return False, f"unsupported scheme: {scheme}"


def probe_binary(
    df: DataFrame, url_col: str = "url", timeout: float = 10.0
) -> DataFrame:
    """Availability probe: input columns + (ok boolean, error string),
    NO body transfer. Use ahead of `fetch_binary` when most candidates
    are expected absent (the reference's ≤40-attempt backtracking walk
    opens each URL but reads only the winner's body) — probing 40
    candidates costs 40 stats/HEADs, then the fetch downloads exactly
    one file."""
    out_schema = StructType(
        [
            *df.schema.fields,
            StructField("ok", BooleanType()),
            StructField("error", StringType()),
        ]
    )
    in_cols = df.columns

    def columns_of(*cols):
        passed = dict(zip(in_cols, cols))
        probes = [_probe_one(str(url), timeout) for url in passed[url_col]]
        return {**passed, "ok": [ok for ok, _ in probes],
                "error": [err for _, err in probes]}

    return arrow_rows(df, columns_of, out_schema)


def fetch_binary(
    df: DataFrame,
    url_col: str = "url",
    timeout: float = 30.0,
    retries: int = 2,
) -> DataFrame:
    """Fetch each row's `url_col` executor-side; returns the input
    columns plus (ok boolean, error string, content binary).

    One Arrow batch of candidate rows in, the same rows out with their
    payloads — the reference's urlopen/URLError control flow
    (converter.py:138-144) re-expressed as data: a 404/missing file is
    `ok = false` with the error text, and "first available candidate"
    is `filter(ok).orderBy(rank).limit(1)` downstream.
    """
    out_schema = StructType(
        [
            *df.schema.fields,
            StructField("ok", BooleanType()),
            StructField("error", StringType()),
            StructField("content", BinaryType()),
        ]
    )
    in_cols = df.columns

    def columns_of(*cols):
        passed = dict(zip(in_cols, cols))
        got = [_fetch_one(str(url), timeout, retries)
               for url in passed[url_col]]
        return {**passed, "ok": [body is not None for body, _ in got],
                "error": [err for _, err in got],
                "content": [body for body, _ in got]}

    return arrow_rows(df, columns_of, out_schema)


def stage_to_dir(
    fetched: DataFrame,
    landing_dir: str,
    name_col: str = "url",
) -> int:
    """Write each ok row's `content` into `landing_dir` under the
    basename of `name_col` — the reference's staging write
    (converter.py:172-177, S9) feeding a watched landing dir (the
    streaming ingest integration point). Executor-side plain-file
    writes: the landing dir must be a filesystem every executor can
    reach (local/NFS in this container; on a cluster object store,
    skip staging and feed `content` straight to the decoder instead).
    Returns the number of files staged."""
    os.makedirs(landing_dir, exist_ok=True)
    rows = fetched.filter("ok").select(name_col, "content")

    def columns_of(names, bodies):
        for name, body in zip(names, bodies):
            base = os.path.basename(urlparse(str(name)).path)
            with open(os.path.join(landing_dir, base), "wb") as fh:
                fh.write(bytes(body))
        return {"n": [len(names)]}

    from pyspark.sql import functions as F

    n = arrow_rows(rows, columns_of, "n long").agg(F.sum("n")).first()[0]
    return int(n or 0)


# ---------------------------------------------------------------------------
# .idx inventory + byte-range partial fetch (r10)
# ---------------------------------------------------------------------------
#
# NOAA publishes a wgrib-style ".idx" sidecar next to every pgrb2 file
# (public NOMADS convention):
#
#   4:186527:d=2020081206:UGRD:10 m above ground:6 hour fcst:
#
# i.e. message number : byte offset : d=YYYYMMDDHH : variable : level
# : forecast. Each pgrb2 record is a COMPLETE GRIB2 message, so the
# byte range [offset, next offset) fetched alone decodes standalone —
# which is how production consumers pull the 2 wind records out of a
# ~700-record file instead of the whole thing. The reference
# (converter.py:136-177) downloads full files; at 100 TB the ranged
# fetch is a ~300× ingress reduction for the same extract.

_IDX_LINE = None


def _idx_re():
    global _IDX_LINE
    if _IDX_LINE is None:
        import re

        _IDX_LINE = re.compile(
            r"^(\d+(?:\.\d+)?):(\d+):d=(\d{10,12}):([^:]*):([^:]*):([^:]*)"
        )
    return _IDX_LINE


def parse_grib_idx(text: str) -> list[dict]:
    """Parse one .idx inventory into [{msg, start, end, ref, var,
    level, forecast}] — `end` is the NEXT DISTINCT offset (None for
    the last: fetch to EOF). Malformed lines are skipped. wgrib2/NOMADS
    submessage lines ('587.1:offset:...') are accepted — the integer
    part becomes `msg` — and because submessages of one GRIB message
    share its byte offset, end-stitching uses the next STRICTLY
    GREATER start, so no record ever gets a zero-length range."""
    recs = []
    for line in text.splitlines():
        m = _idx_re().match(line.strip())
        if not m:
            continue
        recs.append(
            {
                "msg": int(float(m.group(1))),
                "start": int(m.group(2)),
                "end": None,
                "ref": m.group(3),
                "var": m.group(4),
                "level": m.group(5),
                "forecast": m.group(6),
            }
        )
    recs.sort(key=lambda r: r["start"])
    starts = sorted({r["start"] for r in recs})
    nxt = {a: b for a, b in zip(starts, starts[1:])}
    for r in recs:
        r["end"] = nxt.get(r["start"])
    return recs


def select_idx_records(
    records: list[dict],
    variables=None,
    level: str | None = None,
    forecast: str | None = None,
) -> list[dict]:
    """The --fv/--fs-style filter over a parsed inventory (the idx
    analogue of sources.grib.make_selector): keep records matching any
    of `variables` (exact var names, e.g. UGRD/VGRD) and, when given,
    the exact level / forecast strings."""
    vs = set(variables) if variables is not None else None
    return [
        r for r in records
        if (vs is None or r["var"] in vs)
        and (level is None or r["level"] == level)
        and (forecast is None or r["forecast"] == forecast)
    ]


def _fetch_range_one(
    url: str, start: int, end: int | None, timeout: float, retries: int
) -> tuple[bytes | None, str | None]:
    """(content, error) for one byte range [start, end). file:// and
    bare paths seek locally; http(s) sends a Range header (NOMADS
    serves 206 Partial Content)."""
    scheme = urlparse(url).scheme
    if scheme in ("", "file"):
        path = url2pathname(urlparse(url).path) if scheme == "file" else url
        try:
            with open(path, "rb") as fh:
                fh.seek(start)
                body = fh.read() if end is None else fh.read(end - start)
            if end is not None and len(body) != end - start:
                # short read = the inventory points past EOF (stale or
                # corrupt sidecar); a truncated fragment is not a
                # standalone GRIB message, so absence stays data
                return None, (f"range length mismatch: got {len(body)}"
                              f" want {end - start}")
            return body, None
        except OSError as exc:
            return None, f"{type(exc).__name__}: {exc}"
    if scheme in ("http", "https"):
        from urllib.error import URLError
        from urllib.request import Request, urlopen

        rng = f"bytes={start}-" if end is None else f"bytes={start}-{end - 1}"
        last = "unreachable"
        for _ in range(max(1, retries)):
            try:
                req = Request(url, headers={"Range": rng})
                with urlopen(req, timeout=timeout) as resp:  # noqa: S310
                    status = resp.getcode()
                    body = resp.read()
                if status == 206:
                    # the server honoured the Range — the body must be
                    # exactly the requested slice, or the fragment is
                    # not a standalone GRIB message
                    if end is not None and len(body) != end - start:
                        last = (f"range length mismatch: got {len(body)}"
                                f" want {end - start}")
                        continue
                    return body, None
                if status == 200:
                    # server ignored the Range header and returned the
                    # FULL file: slice locally so downstream decode
                    # still sees exactly one record per selected range
                    # (the ingress saving is lost, correctness is not)
                    return (body[start:] if end is None
                            else body[start:end]), None
                last = f"unexpected status {status} for range request"
            except (URLError, OSError) as exc:
                last = f"{type(exc).__name__}: {exc}"
        return None, last
    return None, f"unsupported scheme: {scheme}"


def fetch_grib_ranges(
    df: DataFrame,
    variables=("UGRD", "VGRD"),
    level: str | None = None,
    forecast: str | None = None,
    url_col: str = "url",
    idx_suffix: str = ".idx",
    timeout: float = 30.0,
    retries: int = 2,
) -> DataFrame:
    """Inventory-driven PARTIAL fetch: for each row's `url_col`, pull
    the (tiny) `.idx` sidecar, select the matching records
    (`select_idx_records`), and fetch ONLY their byte ranges — one
    output row per selected record, each `content` a complete
    standalone GRIB2 message ready for `sources.grib.decode_binary_df`
    / `decode_grib2_bytes`.

    Output: input columns + (msg int, variable, level, forecast,
    range_start long, range_end long — NULL = to EOF, ok boolean,
    error string, content binary). A missing/unparseable idx yields
    ONE ok=false row for the file (error says why) so absence stays
    data, exactly like `fetch_binary`. Scale shape: the idx is a few
    KB against a multi-GB file, so ingress drops by the selected
    fraction (~2/700 for the wind extract); fan-out and politeness
    bounds are the candidate set's job, as for `fetch_binary`."""
    from pyspark.sql.types import IntegerType, LongType

    out_schema = StructType(
        [
            *df.schema.fields,
            StructField("msg", IntegerType()),
            StructField("variable", StringType()),
            StructField("level", StringType()),
            StructField("forecast", StringType()),
            StructField("range_start", LongType()),
            StructField("range_end", LongType()),
            StructField("ok", BooleanType()),
            StructField("error", StringType()),
            StructField("content", BinaryType()),
        ]
    )
    in_cols = df.columns
    extra = ["msg", "variable", "level", "forecast", "range_start",
             "range_end", "ok", "error", "content"]

    def columns_of(*cols):
        rows = []
        for values in zip(*cols):
            base = dict(zip(in_cols, values))
            url = str(base[url_col])

            def emit(**kw):
                rows.append({**base, **dict.fromkeys(extra), **kw})

            idx_body, err = _fetch_one(url + idx_suffix, timeout,
                                       retries)
            if idx_body is None:
                emit(ok=False, error=f"idx: {err}")
                continue
            try:
                recs = parse_grib_idx(idx_body.decode("utf-8",
                                                      "replace"))
            except Exception as exc:  # noqa: BLE001 — absence is data
                emit(ok=False, error=f"idx parse: {exc}")
                continue
            picked = select_idx_records(recs, variables, level,
                                        forecast)
            if not picked:
                emit(ok=False, error="idx: no matching records")
                continue
            # submessages of one GRIB message share its byte
            # offset — fetch each distinct range ONCE (decode
            # yields every field in the message), joining the
            # selected field labels with '+'
            by_start: dict[int, dict] = {}
            for r in picked:
                g = by_start.get(r["start"])
                if g is None:
                    by_start[r["start"]] = dict(r)
                else:
                    for k in ("var", "level", "forecast"):
                        if r[k] not in g[k].split("+"):
                            g[k] = g[k] + "+" + r[k]
            for r in sorted(by_start.values(),
                            key=lambda x: x["start"]):
                body, ferr = _fetch_range_one(
                    url, r["start"], r["end"], timeout, retries
                )
                emit(
                    msg=r["msg"], variable=r["var"],
                    level=r["level"], forecast=r["forecast"],
                    range_start=r["start"], range_end=r["end"],
                    ok=body is not None, error=ferr, content=body,
                )
        return {c: [r[c] for r in rows] for c in in_cols + extra}

    return arrow_rows(df, columns_of, out_schema)
