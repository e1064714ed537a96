"""Wind-grid expression library (SURVEY.md §1.2, §2.8 C13-C14).

The reference stores a row-major raster (65,160 floats, 360×181, scanMode
0) and leaves index→coordinate math to the consumer. Here it's explicit
Catalyst expressions; `posexplode` turns the raster into a relational
(idx, lat, lon, value) view when per-cell queries need it.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "cell_lat",
    "cell_lon",
    "gaussian_cell_latlon",
    "lambert_cell_latlon",
    "mercator_cell_latlon",
    "polar_cell_latlon",
    "speed",
    "direction_deg",
    "explode_grid",
]


def cell_lat(idx: Column, nx: Column | int = 360, la1: Column | float = 90.0, dy: Column | float = 1.0) -> Column:
    """lat(i) = la1 - floor(i / nx) * dy  (C13; scanMode 0, rows N→S)."""
    return F.lit(la1) - F.floor(idx / F.lit(nx)) * F.lit(dy)


def cell_lon(idx: Column, nx: Column | int = 360, lo1: Column | float = 0.0, dx: Column | float = 1.0) -> Column:
    """lon(i) = lo1 + (i mod nx) * dx  (C13; lon fastest W→E)."""
    return F.lit(lo1) + F.pmod(idx, F.lit(nx)) * F.lit(dx)


def gaussian_cell_latlon(
    idx: Column,
    *,
    nx: int,
    n: int,
    lo1: float,
    dx: float,
    north_first: bool = True,
) -> tuple[Column, Column]:
    """Cell index → (lat, lon) degrees for a regular Gaussian grid
    (template 3.40, N parallels pole→equator): longitude is the same
    uniform `lo1 + (i mod nx)·dx` as 3.0, latitude is a LOOKUP into
    the 2N Gauss-Legendre quadrature latitudes
    (sources.grib2codec.gaussian_latitudes — a driver-side Newton/
    eigensolve, never per-row work).

    The lookup ships as a plan-literal array (element_at on a
    foldable array<double>) — ~20 KB of literals at the N=1280
    operational ceiling (ECMWF O1280; NCEP's N=768 is ~12 KB), well
    under plan-size limits and broadcast-free; at an extreme N a
    caller can join a (row, lat) broadcast dim instead, but every
    real grid family fits the literal. Pure codegen'd
    expressions — no UDF, no shuffle.

    `north_first` mirrors the grid's scan direction (WMO flag table
    3.4 bit 0x40): True for scan −j (rows N→S, la1 = northernmost —
    scanMode 0, what NCEP emits), False for +j (rows S→N, la1 =
    southernmost); the decoder validates la1 against exactly this
    (grib2codec._decode_field)."""
    from ..sources.grib2codec import gaussian_latitudes

    ordered = gaussian_latitudes(n)
    if not north_first:
        ordered = ordered[::-1]
    lats = F.array(*[F.lit(float(v)) for v in ordered])
    lat = F.element_at(lats, (F.floor(idx / F.lit(nx)) + 1).cast("int"))
    lon = F.pmod(F.lit(lo1) + F.pmod(idx, F.lit(nx)).cast("double")
                 * F.lit(dx), F.lit(360.0))
    return lat, lon


def lambert_cell_latlon(
    idx: Column,
    *,
    nx: int,
    la1: float,
    lo1: float,
    laD: float,
    loV: float,
    latin1: float,
    latin2: float,
    dx: float,
    dy: float,
    radius: float = 6371229.0,
) -> tuple[Column, Column]:
    """Inverse Lambert conformal projection as native Catalyst
    expressions: cell index → (lat, lon) degrees for a template-3.30
    grid (the HRRR/NAM projection; header fields laD/loV/latin1/latin2
    and metre-valued dx/dy come straight from the 3.30 decode).

    Spherical Lambert (the GRIB shape-6 earth), standard formulas from
    the public literature (Snyder, *Map Projections — A Working
    Manual*, USGS PP 1395, eqs. 15-1..15-11): everything that depends
    only on the projection constants (cone constant n, scale constant
    F, origin radius rho0, and the metre offset of the first grid
    point) is a driver-side Python float; the per-cell work is five
    codegen'd expressions (two muls, sqrt, atan2, pow) — no UDF, no
    shuffle, whole-stage codegen keeps it JVM-side at any scale.

    Assumes the NOAA layout: scan mode 64 (+x east, +y north,
    row-major). Both cones are supported — the sign of the standard
    parallels (not the projection-centre flag byte) selects the
    hemisphere: n < 0 (southern cone) applies Snyder's sign-reversal
    rule (ρ, and the atan2 arguments, flip). A cone straddling the
    equator (latin1/latin2 of opposite sign, or a standard parallel at
    0°) has n ≈ 0 and no Lambert conformal form — fail loud. lon is
    normalized to [0, 360) as GRIB convention has it.
    """
    if latin1 == 0 or latin2 == 0 or latin1 * latin2 < 0:
        raise ValueError(
            "lambert_cell_latlon: cone constant n ≈ 0 — standard "
            f"parallels latin1={latin1}, latin2={latin2} do not define "
            "a Lambert conformal cone (use Mercator for the equator)"
        )
    phi1, phi2 = math.radians(latin1), math.radians(latin2)
    phi_d, lam0 = math.radians(laD), math.radians(loV)
    phi_a, lam_a = math.radians(la1), math.radians(lo1)

    def _t(phi: float) -> float:
        return math.tan(math.pi / 4 + phi / 2)

    if abs(phi1 - phi2) < 1e-12:
        n = math.sin(phi1)
    else:
        n = math.log(math.cos(phi1) / math.cos(phi2)) / math.log(
            _t(phi2) / _t(phi1)
        )
    f_const = math.cos(phi1) * _t(phi1) ** n / n
    rho0 = radius * f_const / _t(phi_d) ** n
    # metre coordinates of the first grid point relative to the
    # projection origin (laD, loV)
    rho_a = radius * f_const / _t(phi_a) ** n
    th_a = n * (lam_a - lam0)
    x1, y1 = rho_a * math.sin(th_a), rho0 - rho_a * math.cos(th_a)

    # Snyder 15-11: for n < 0 reverse the signs of x, (rho0 - y), rho
    # before the inverse — s folds that rule into both hemispheres
    s = 1.0 if n > 0 else -1.0
    x = F.lit(x1) + F.pmod(idx, F.lit(nx)).cast("double") * F.lit(dx)
    y = F.lit(y1) + F.floor(idx / F.lit(nx)).cast("double") * F.lit(dy)
    rho = F.lit(s) * F.sqrt(x * x + (F.lit(rho0) - y) * (F.lit(rho0) - y))
    theta = F.atan2(F.lit(s) * x, F.lit(s) * (F.lit(rho0) - y))
    lat = F.degrees(
        F.lit(2.0) * F.atan(F.pow(F.lit(radius * f_const) / rho, F.lit(1.0 / n)))
        - F.lit(math.pi / 2)
    )
    lon = F.pmod(F.lit(math.degrees(lam0)) + F.degrees(theta) / F.lit(n),
                 F.lit(360.0))
    return lat, lon


def mercator_cell_latlon(
    idx: Column,
    *,
    nx: int,
    la1: float,
    lo1: float,
    laD: float,
    dx: float,
    dy: float,
    radius: float = 6371229.0,
) -> tuple[Column, Column]:
    """Inverse spherical Mercator as native Catalyst expressions: cell
    index → (lat, lon) degrees for a template-3.10 grid (NCEP
    tropical/regional products; laD is the true-scale latitude, dx/dy
    in metres there).

    With k = R·cos φD, the forward is x = k·λ,
    y = k·ln tan(π/4 + φ/2); the grid anchors at (la1, lo1) so the
    per-cell inverse is one exp and one atan in whole-stage codegen —
    no UDF. Scan mode 64 (+x east, +y north) as NOAA emits; lon is
    normalized to [0, 360)."""
    k = radius * math.cos(math.radians(laD))
    x1 = k * math.radians(lo1)
    y1 = k * math.log(math.tan(math.pi / 4 + math.radians(la1) / 2))

    x = F.lit(x1) + F.pmod(idx, F.lit(nx)).cast("double") * F.lit(dx)
    y = F.lit(y1) + F.floor(idx / F.lit(nx)).cast("double") * F.lit(dy)
    lat = F.degrees(
        F.lit(2.0) * F.atan(F.exp(y / F.lit(k))) - F.lit(math.pi / 2)
    )
    lon = F.pmod(F.degrees(x / F.lit(k)), F.lit(360.0))
    return lat, lon


def polar_cell_latlon(
    idx: Column,
    *,
    nx: int,
    la1: float,
    lo1: float,
    laD: float,
    loV: float,
    dx: float,
    dy: float,
    south: bool = False,
    radius: float = 6371229.0,
) -> tuple[Column, Column]:
    """Inverse polar stereographic projection as native Catalyst
    expressions: cell index → (lat, lon) degrees for a template-3.20
    grid (the NOAA Alaska/polar geometry; laD is the true-scale
    latitude, loV the orientation longitude, dx/dy in metres).

    Spherical form (Snyder eqs. 21-1/21-4 reduced): with
    c = R·(1 + sin φD), the radius from the pole is
    ρ = c·tan(π/4 − φ/2), x = ρ·sin(λ−λ0), y = −ρ·cos(λ−λ0) (north
    aspect; the south aspect is the φ→−φ mirror, selected by `south`
    to match the projection-centre flag bit 0x80). All projection
    constants — c and the metre offset of the first grid point — are
    driver-side floats; the per-cell work is sqrt/atan/atan2
    expressions in whole-stage codegen, no UDF. Scan mode 64 (+x east,
    +y toward the pole along λ0+180) as NOAA emits.
    """
    p = -1.0 if south else 1.0
    lam0 = math.radians(loV)
    c = radius * (1.0 + math.sin(math.radians(p * laD)))
    rho_a = c * math.tan(math.pi / 4 - math.radians(p * la1) / 2)
    th_a = math.radians(lo1) - lam0
    x1 = rho_a * math.sin(th_a)
    y1 = -p * rho_a * math.cos(th_a)

    x = F.lit(x1) + F.pmod(idx, F.lit(nx)).cast("double") * F.lit(dx)
    y = F.lit(y1) + F.floor(idx / F.lit(nx)).cast("double") * F.lit(dy)
    rho = F.sqrt(x * x + y * y)
    lat = F.lit(p) * F.degrees(
        F.lit(math.pi / 2) - F.lit(2.0) * F.atan(rho / F.lit(c))
    )
    lon = F.pmod(
        F.lit(math.degrees(lam0)) + F.degrees(F.atan2(x, F.lit(-p) * y)),
        F.lit(360.0),
    )
    return lat, lon


def speed(u: Column, v: Column) -> Column:
    """Wind speed |(u,v)| (C14)."""
    return F.sqrt(u * u + v * v)


def direction_deg(u: Column, v: Column) -> Column:
    """Meteorological wind direction (degrees FROM which the wind blows)."""
    return F.pmod(F.degrees(F.atan2(-u, -v)), F.lit(360.0))


def explode_grid(df: DataFrame, data_col: str = "data") -> DataFrame:
    """Raster → relational per-cell view: adds (idx, lat, lon, value)
    for the reference's 360×181 1° lat/lon grid (template 3.0
    defaults). For a Lambert-conformal (3.30) raster compose
    `posexplode` with `lambert_cell_latlon` and the header's
    projection constants instead — see the end-to-end pattern in
    tests/test_round6.py::test_lambert_end_to_end_through_spark_scan.

    At scale this multiplies rows by 65k; downstream filters on lat/lon
    bands should be applied in the same select so Catalyst collapses
    them into the generate.
    """
    exploded = df.select(
        *[c for c in df.columns if c != data_col],
        F.posexplode(data_col).alias("idx", "value"),
    )
    return exploded.withColumn("lat", cell_lat(F.col("idx"))).withColumn(
        "lon", cell_lon(F.col("idx"))
    )
