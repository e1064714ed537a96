"""Explicit schemas (SURVEY.md §1.4: declared, never inferred).

WIND_HEADER / WIND_RECORD mirror the decoded-JSON boundary of the
reference (grib2json output enriched at converter.py:63-69; observed
shape data/u_comp.json:1, full field list FIXTURES.md §A1). The engine
is schema-on-write: a malformed record becomes NULL fields, not a silent
dict mutation (converter.py:60-61 trusts blindly).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

__all__ = ["WIND_HEADER", "WIND_RECORD", "WIND_TABLE", "TESTDATA_TABLES"]


def _f(name: str, dtype) -> StructField:
    return StructField(name, dtype, nullable=True)


#: GRIB2 metadata header — 79 keys, typed (reference: opaque jsonb,
#: dbwindsetup.sql:7). The four interval-statistics keys are NULL for
#: point-in-time (template 4.0) records and populated for statistical
#: (template 4.8) records; the five projection keys are NULL for
#: lat/lon (template 3.0) grids — Lambert conformal (3.30) populates
#: all five, polar stereographic (3.20) populates laD/loV/
#: projectionCentre with latin1/latin2 staying NULL (an azimuthal
#: projection has no standard parallels).
WIND_HEADER = StructType(
    [
        # identity / provenance
        _f("discipline", IntegerType()),
        _f("disciplineName", StringType()),
        _f("gribEdition", IntegerType()),
        _f("gribLength", IntegerType()),
        _f("center", IntegerType()),
        _f("centerName", StringType()),
        _f("subcenter", IntegerType()),
        _f("significanceOfRT", IntegerType()),
        _f("significanceOfRTName", StringType()),
        _f("refTime", StringType()),  # "2020-08-12T06:00:00.000Z"
        _f("forecastTime", IntegerType()),
        _f("productStatus", IntegerType()),
        _f("productStatusName", StringType()),
        _f("productType", IntegerType()),
        _f("productTypeName", StringType()),
        _f("productDefinitionTemplate", IntegerType()),
        _f("productDefinitionTemplateName", StringType()),
        # interval statistics (template 4.8; NULL for 4.0)
        _f("statisticalProcess", IntegerType()),
        _f("statisticalProcessName", StringType()),
        _f("intervalHours", IntegerType()),
        _f("intervalEnd", StringType()),
        # ensemble identity (template 4.1 — GEFS members; NULL for 4.0/4.8)
        _f("ensembleType", IntegerType()),
        _f("ensembleTypeName", StringType()),
        _f("perturbationNumber", IntegerType()),
        _f("ensembleSize", IntegerType()),
        # derived ensemble products (4.2/4.12, r8): WMO table 4.7 —
        # mean/spread/etc over all members; NULL for other templates
        _f("derivedForecastType", IntegerType()),
        _f("derivedForecastTypeName", StringType()),
        # probability products (4.5/4.9, r8): member number/total, WMO
        # table 4.9 type, scaled event limits (an open side is NULL)
        _f("probabilityNumber", IntegerType()),
        _f("probabilityTotal", IntegerType()),
        _f("probabilityType", IntegerType()),
        _f("probabilityTypeName", StringType()),
        _f("probabilityLowerLimit", DoubleType()),
        _f("probabilityUpperLimit", DoubleType()),
        # percentile products (4.6/4.10, r8): the percentile 0-100
        _f("percentileValue", IntegerType()),
        # cluster-derived products (4.3/4.4, r10): identity, domain
        # (rect corners for 4.3 / centre+radius for 4.4), statistics,
        # and the member-number list; NULL for non-cluster templates
        _f("clusterIdentifier", IntegerType()),
        _f("clusterControlHiRes", IntegerType()),
        _f("clusterControlLoRes", IntegerType()),
        _f("totalClusters", IntegerType()),
        _f("clusteringMethod", IntegerType()),
        _f("clusteringMethodName", StringType()),
        _f("clusterNorthLatitude", DoubleType()),
        _f("clusterSouthLatitude", DoubleType()),
        _f("clusterEastLongitude", DoubleType()),
        _f("clusterWestLongitude", DoubleType()),
        _f("clusterCentralLatitude", DoubleType()),
        _f("clusterCentralLongitude", DoubleType()),
        _f("clusterRadius", DoubleType()),
        _f("clusterSize", IntegerType()),
        _f("clusterStdDev", DoubleType()),
        _f("clusterMeanDistance", DoubleType()),
        _f("clusterMembers", ArrayType(IntegerType())),
        _f("genProcessType", IntegerType()),
        _f("genProcessTypeName", StringType()),
        # parameter selection keys (the --fp/--fs/--fv filter, converter.py:49-53)
        _f("parameterCategory", IntegerType()),
        _f("parameterCategoryName", StringType()),
        _f("parameterNumber", IntegerType()),  # 2 = U, 3 = V
        _f("parameterNumberName", StringType()),
        _f("parameterUnit", StringType()),
        _f("surface1Type", IntegerType()),  # 103 = height above ground
        _f("surface1TypeName", StringType()),
        _f("surface1Value", DoubleType()),  # 10.0 m
        _f("surface2Type", IntegerType()),
        _f("surface2TypeName", StringType()),
        _f("surface2Value", DoubleType()),
        # grid geometry (index → lat/lon mapping, SURVEY.md §1.2)
        _f("gridDefinitionTemplate", IntegerType()),
        _f("gridDefinitionTemplateName", StringType()),
        _f("gridUnits", StringType()),
        _f("numberPoints", IntegerType()),  # 65160
        _f("nx", IntegerType()),  # 360
        _f("ny", IntegerType()),  # 181
        _f("la1", DoubleType()),  # 90.0 (north)
        _f("la2", DoubleType()),
        _f("lo1", DoubleType()),
        _f("lo2", DoubleType()),
        _f("dx", DoubleType()),
        _f("dy", DoubleType()),  # NULL for Gaussian grids (3.40): rows
        # sit at the non-uniform quadrature latitudes
        _f("gaussianN", IntegerType()),  # 3.40 only: parallels pole→equator
        # reduced (thinned) Gaussian grids (r8): points per row, 2N
        # entries north→south; NULL (and nx non-NULL) for regular grids
        _f("reducedPoints", ArrayType(IntegerType())),
        _f("basicAngle", IntegerType()),
        _f("scanMode", IntegerType()),  # 0: lon fastest W→E, rows N→S
        _f("resolution", IntegerType()),
        # Lambert conformal projection (template 3.30; NULL for 3.0)
        _f("laD", DoubleType()),
        _f("loV", DoubleType()),
        _f("latin1", DoubleType()),
        _f("latin2", DoubleType()),
        _f("projectionCentre", IntegerType()),
        _f("shape", IntegerType()),
        _f("shapeName", StringType()),
        _f("winds", StringType()),  # "true" (string in fixture)
    ]
)

#: One decoded wind-component record (header + bucketed obs ts + raster).
WIND_RECORD = StructType(
    [
        _f("header", WIND_HEADER),
        _f("recordedTime", StringType()),  # "2020-08-12 12:00:00+00" (converter.py:67)
        _f("data", ArrayType(FloatType())),
    ]
)

#: Native engine layout of the wind table (FIXTURES.md §A2): typed
#: columns instead of jsonb, parquet Hive-partitioned by
#: `recorded_date` = to_date(recorded_time), which reads back as one more
#: (last) column (operators.upsert.DATE_COL).
WIND_TABLE = StructType(
    [
        _f("recorded_time", TimestampType()),
        _f("param", IntegerType()),  # 2 = U, 3 = V
        _f("ref_time", TimestampType()),
        _f("forecast_hours", IntegerType()),
        _f("header", WIND_HEADER),
        _f("data", ArrayType(FloatType())),
    ]
)

#: Names of the driver-generated testdata tables (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
