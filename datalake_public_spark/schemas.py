"""Declared schemas for every lake boundary.

Replaces the reference's inferred-then-forced regime (schema inference at
``spark.read.json`` + positional ``createDataFrame(df.rdd, schema)``;
``transform_ss_velib_with_spark.py:59,105`` — SURVEY §1.4) with explicit
``StructType``s applied *at read* and name-based cast enforcement.

Raw GBFS shapes per FIXTURES.md §1 / reference transforms:
  * station_status  — ``transform_ss_velib_with_spark.py:63-95``
  * station_information — ``transform_si_velib_with_spark.py:57-86``
  * lime free_bike_status — ``transform_lime_with_spark.py:62-95``

Deliberate divergence: ``rental_methods`` is ``array<string>`` (the real
GBFS type), not the reference's mis-declared ``StringType``
(``transform_si_velib_with_spark.py:72``; SURVEY §1.3 hazard).
Coordinates are ``double`` internally (float loses ~1 m; SURVEY §1.3),
narrowed to float only at serving boundaries that require it.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --------------------------------------------------------------------------
# Raw zone: GBFS JSON snapshot shapes (input to the flatten operators)
# --------------------------------------------------------------------------

RAW_VELIB_STATION_STATUS = StructType(
    [
        StructField("lastUpdatedOther", LongType()),
        StructField(
            "data",
            StructType(
                [
                    StructField(
                        "stations",
                        ArrayType(
                            StructType(
                                [
                                    StructField("station_id", StringType()),
                                    StructField("stationCode", StringType()),
                                    StructField("num_bikes_available", IntegerType()),
                                    StructField("num_docks_available", IntegerType()),
                                    # int-coded booleans (1/0) in the feed
                                    StructField("is_installed", IntegerType()),
                                    StructField("is_returning", IntegerType()),
                                    StructField("is_renting", IntegerType()),
                                    StructField("last_reported", LongType()),
                                ]
                            )
                        ),
                    )
                ]
            ),
        ),
    ]
)

RAW_VELIB_STATION_INFORMATION = StructType(
    [
        StructField("lastUpdatedOther", LongType()),
        StructField(
            "data",
            StructType(
                [
                    StructField(
                        "stations",
                        ArrayType(
                            StructType(
                                [
                                    StructField("station_id", StringType()),
                                    StructField("stationCode", StringType()),
                                    StructField("name", StringType()),
                                    StructField("lat", DoubleType()),
                                    StructField("lon", DoubleType()),
                                    StructField("capacity", IntegerType()),
                                    StructField("rental_methods", ArrayType(StringType())),
                                ]
                            )
                        ),
                    )
                ]
            ),
        ),
    ]
)

RAW_LIME_FREE_BIKE_STATUS = StructType(
    [
        StructField("last_updated", LongType()),
        StructField(
            "data",
            StructType(
                [
                    StructField(
                        "bikes",
                        ArrayType(
                            StructType(
                                [
                                    StructField("bike_id", StringType()),
                                    StructField("lat", DoubleType()),
                                    StructField("lon", DoubleType()),
                                    # string-coded booleans ("true"/"false")
                                    StructField("is_reserved", StringType()),
                                    StructField("is_disabled", StringType()),
                                    StructField("current_range_meters", IntegerType()),
                                    StructField("vehicle_type_id", StringType()),
                                    StructField("vehicle_type", StringType()),
                                    StructField("last_reported", LongType()),
                                ]
                            )
                        ),
                    )
                ]
            ),
        ),
    ]
)

# --------------------------------------------------------------------------
# Formatted zone (output contracts of the flatten operators; FIXTURES.md §2)
# --------------------------------------------------------------------------

FORMATTED_VELIB_SS = StructType(
    [
        StructField("lastUpdatedOther_timestamp", TimestampType()),
        StructField("station_id", StringType()),
        StructField("stationCode", StringType()),
        StructField("num_bikes_available", IntegerType()),
        StructField("num_docks_available", IntegerType()),
        StructField("is_installed", BooleanType()),
        StructField("is_returning", BooleanType()),
        StructField("is_renting", BooleanType()),
        StructField("last_reported_timestamp", TimestampType()),
    ]
)

FORMATTED_VELIB_SI = StructType(
    [
        StructField("lastUpdatedOther_timestamp", TimestampType()),
        StructField("station_id", StringType()),
        StructField("stationCode", StringType()),
        StructField("name", StringType()),
        StructField("lat", DoubleType()),
        StructField("lon", DoubleType()),
        StructField("capacity", IntegerType()),
        StructField("rental_methods", ArrayType(StringType())),
    ]
)

FORMATTED_LIME_BS = StructType(
    [
        StructField("last_updated_timestamp", TimestampType()),
        StructField("bike_id", StringType()),
        StructField("lat", DoubleType()),
        StructField("lon", DoubleType()),
        StructField("is_reserved", BooleanType()),
        StructField("is_disabled", BooleanType()),
        StructField("current_range_meters", IntegerType()),
        StructField("vehicle_type_id", StringType()),
        StructField("vehicle_type", StringType()),
        StructField("last_reported_timestamp", TimestampType()),
    ]
)

# --------------------------------------------------------------------------
# Enriched zone: unified provider table (consumer contract at
# ``index_to_elastic_with_spark.py:115-123`` / FIXTURES.md §3)
# --------------------------------------------------------------------------

ENRICHED_UNIFIED = StructType(
    [
        StructField("provider", StringType()),
        StructField("id", StringType()),
        StructField("time", TimestampType()),
        StructField("lat", DoubleType()),
        StructField("lon", DoubleType()),
        StructField("num_bikes", IntegerType()),
        StructField("num_docks", IntegerType()),
    ]
)

# Driver testdata tables (TESTDATA.md) — names only; parquet carries schema.
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
