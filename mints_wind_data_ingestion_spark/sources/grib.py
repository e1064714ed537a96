"""GRIB2 binary source → decoded wind records (SURVEY.md §2.10 X1).

The reference shells out to a vendored JVM tool per file
(converter.py:49-53: os.system grib2json). The Spark-native shape is
ONE decode node, `decode_binary_df`:

    spark.read.format("binaryFile").load(landing_dir)   # (path, content)
      → sources._file_rows_df(binary, rows_of_file, DECODED_SCHEMA)

— one row in (a GRIB2 file), many rows out (one per selected GRIB
record), decoded executor-side in one `mapInArrow` node whose float32
`data` arrays go to Arrow without a pandas frame, with the record filter
(parameterNumber/surface) applied inside the decoder exactly like the
reference's --fp/--fs/--fv pushdown. The batch scan (`read_grib_dir`),
the streaming source, `operators.ingest` and the x_grib_* driver
queries all decode through it; `scan_binary_df` (the quarantine
variant) is the same file-to-rows node over `scan_grib2_bytes`.

The GRIB2 bit-unpacking is real: `grib2codec` implements the WMO
spec's sections 0-8 for the template family real NOAA pgrb2 files use
(lat/lon grid 3.0, point-in-time product 4.0 and interval-statistics
product 4.8, packings 5.0/5.2/5.3/5.4, optional bitmap),
numpy-vectorized, round-tripped in tests against the reference's own
golden field (data/u_comp.json, 65 160 points). Decode and scan share
the codec's one message/field walk: `decode_grib2_bytes` raises the
first field error that `scan_grib2_bytes` would report as a row.
`fake_decoder` remains as a unit-test helper for plumbing tests that
don't want to construct binary fixtures.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..schemas import WIND_RECORD
from . import _file_rows_df

__all__ = [
    "DECODED_SCHEMA",
    "SCAN_SCHEMA",
    "decode_grib2",
    "decode_binary_df",
    "fake_decoder",
    "make_selector",
    "read_grib_dir",
    "scan_binary_df",
]

#: output schema of the decode UDTF: source path + the wind record
DECODED_SCHEMA = StructType(
    [StructField("source_path", StringType()), *WIND_RECORD.fields]
)

def make_selector(
    fp: tuple[int, ...] | None = (2, 3),
    fc: int | None = None,
    fs: int | None = 103,
    fv: float | None = 10.0,
) -> Callable[[dict], bool]:
    """Header predicate mirroring grib2json's record-selection flags
    (grib2json/.../README.md:30-37): --fp parameterNumber, --fc
    parameterCategory, --fs surface1Type, --fv surface1Value. None
    disables that flag, exactly like omitting it on the CLI; the
    defaults are the reference's invocation (converter.py:49-53)."""

    def select(h: dict) -> bool:
        if fp is not None and h["parameterNumber"] not in fp:
            return False
        if fc is not None and h["parameterCategory"] != fc:
            return False
        if fs is not None and h["surface1Type"] != fs:
            return False
        if fv is not None and h["surface1Value"] != fv:
            return False
        return True

    return select


def decode_grib2(
    content: bytes, selector: Callable[[dict], bool] | None = None
) -> list[dict]:
    """Decode one GRIB2 file into wind-record dicts, filtered to the
    reference's record selection (converter.py:49-53: --fp 2/3
    --fs 103 --fv 10.0 — 10 m U/V wind); pass `make_selector(...)`
    for other --fp/--fc/--fs/--fv combinations.

    Bit-unpacking via grib2codec (pure Python + numpy, WMO spec);
    `recordedTime` is None here — the reference derives it from the
    cron tick AFTER decoding (converter.py:63-69), so enrichment
    belongs to the caller, exactly as in the JSON-boundary path.

    Fail-loud breadth: a message using a template outside the codec's
    family raises (never a silently wrong field). Use
    `scan_binary_df` when a mixed corpus must decode what it can and
    QUARANTINE the rest instead of failing the file."""
    from .grib2codec import decode_grib2_bytes

    select = selector or make_selector()
    out = []
    for rec in decode_grib2_bytes(content):
        if select(rec["header"]):
            out.append({**rec, "recordedTime": None})
    return out


def fake_decoder(nx: int = 4, ny: int = 3) -> Callable[[bytes], list[dict]]:
    """Deterministic decode stand-in for tests: derives a tiny grid from
    the byte content so plumbing (schema, batching, multi-record output)
    is exercised with verifiable values."""

    def decode(content: bytes) -> list[dict]:
        seed = sum(content) % 97
        n = nx * ny
        out = []
        for param in (2, 3):
            out.append(
                {
                    "header": {
                        "parameterNumber": param,
                        "surface1Type": 103,
                        "surface1Value": 10.0,
                        "nx": nx,
                        "ny": ny,
                        "numberPoints": n,
                        "la1": 90.0,
                        "lo1": 0.0,
                        "dx": 1.0,
                        "dy": 1.0,
                        "scanMode": 0,
                        "refTime": "2020-08-12T06:00:00.000Z",
                        "forecastTime": 6,
                    },
                    "recordedTime": "2020-08-12 12:00:00+00",
                    "data": [float((seed + param * 10 + i) % 100) for i in range(n)],
                }
            )
        return out

    return decode


def decode_binary_df(
    binary: DataFrame,
    decoder: Callable[[bytes], list[dict]] | None = None,
) -> DataFrame:
    """Vectorized decode UDTF over a (path, content) binary DataFrame —
    shared by the batch scan (`read_grib_dir`), the streaming source
    (`streaming.pipeline.run_grib_ingest_stream`) and the x_grib_*
    driver queries (which pass `decoder=decode_grib2_bytes` to keep
    every record): one GRIB2 file in, one row per selected record out,
    decoded executor-side in Arrow batches."""
    decode = decoder or decode_grib2

    def rows_of_file(path: str, content: bytes) -> list[dict]:
        return [
            {"source_path": path, "header": rec["header"],
             "recordedTime": rec.get("recordedTime"), "data": rec["data"]}
            for rec in decode(content)
        ]

    return _file_rows_df(binary, rows_of_file, DECODED_SCHEMA)


def read_grib_dir(
    spark: SparkSession,
    landing_dir: str,
    decoder: Callable[[bytes], list[dict]] | None = None,
) -> DataFrame:
    """binaryFile scan + vectorized decode UDTF over a GRIB landing dir.

    Partitioning: binaryFile assigns whole files to tasks; with many
    ~80 KB GRIB files per batch (BASELINE.md) the scan parallelizes per
    file. Decoding happens in the `mapInArrow` file-to-rows node — the
    canonical 'shell-out tool becomes a UDTF' move (SURVEY.md §2.10 X1).
    """
    return decode_binary_df(
        spark.read.format("binaryFile").load(landing_dir), decoder
    )


#: scan_binary_df output: quarantine columns + the wind record
SCAN_SCHEMA = StructType(
    [
        StructField("source_path", StringType()),
        StructField("msg_offset", LongType()),
        StructField("error", StringType()),
        *WIND_RECORD.fields,
    ]
)


def scan_binary_df(
    binary: DataFrame,
    selector: Callable[[dict], bool] | None = None,
) -> DataFrame:
    """Quarantine-not-corrupt decode over a (path, content) binary
    DataFrame: every framed GRIB2 message becomes a row — supported
    messages decode bit-identically to `decode_binary_df` (error NULL,
    selector applied), messages using an unsupported template carry
    their rejection text in `error` with NULL record fields. One bad
    message never poisons its file, and nothing is silently dropped:
    `df.filter("error IS NOT NULL")` IS the quarantine table a curation
    pipeline reviews (the breadth contract for grib2json's wider
    template surface, grib2json/.../README.md:30-37)."""
    from .grib2codec import scan_grib2_bytes

    select = selector or make_selector()

    def rows_of_file(path: str, content: bytes) -> list[dict]:
        rows = []
        for m in scan_grib2_bytes(content):
            rec = m["record"]
            if rec is not None and not select(rec["header"]):
                continue
            rows.append(
                {
                    "source_path": path,
                    "msg_offset": m["offset"],
                    "error": m["error"],
                    "header": rec["header"] if rec else None,
                    "recordedTime": None,
                    "data": rec["data"] if rec else None,
                }
            )
        return rows

    return _file_rows_df(binary, rows_of_file, SCAN_SCHEMA)
