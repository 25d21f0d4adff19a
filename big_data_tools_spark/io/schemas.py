"""Explicit schemas for all engine tables.

The reference relies on ``spark.read.json`` schema inference everywhere
(``Databricks Notebook.py:34,48,62,80,94,108``). At 100 TB inference is
a full extra scan, so this engine declares every schema up front
(SURVEY.md §1.4) and treats inference as an opt-in fallback.

Two schema families:
- driver testdata tables (TPC-H-ish star schema + events/documents/
  embeddings; see FIXTURES.md Family A);
- Yelp-shaped tables mirroring the reference's six JSON inputs
  (FIXTURES.md Family B) — used by unit tests and the basetable builder.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- driver tables
# What load_table returns for the driver testdata (pinned in
# tests/test_sources_memo.py): the date columns are naive timestamp[us]
# in the files, which Spark infers as TIMESTAMP_NTZ.

TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLE_NAMES: tuple[str, ...] = tuple(TABLE_SCHEMAS)

# ------------------------------------------------- Yelp-shaped tables (Family B)
# Mirrors the six inferred-schema JSON inputs of the reference
# (``Databricks Notebook.py:34-108``); nesting kept as real StructTypes
# instead of the reference's dotted-name flattening (``:199``).

_ATTR_FIELDS = [
    "Alcohol",
    "Ambience",
    "BikeParking",
    "BusinessAcceptsBitcoin",
    "BusinessAcceptsCreditCards",
    "BusinessParking",
    "Caters",
    "DietaryRestrictions",
    "DriveThru",
    "GoodForMeal",
    "Open24Hours",
    "OutdoorSeating",
    "RestaurantsDelivery",
    "RestaurantsPriceRange2",
    "RestaurantsTakeOut",
    "WiFi",
]

_WEEKDAYS = [
    "Monday",
    "Tuesday",
    "Wednesday",
    "Thursday",
    "Friday",
    "Saturday",
    "Sunday",
]

YELP_SCHEMAS: dict[str, T.StructType] = {
    "business": T.StructType(
        [
            T.StructField("business_id", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("categories", T.StringType()),
            T.StructField(
                "attributes",
                T.StructType([T.StructField(f, T.StringType()) for f in _ATTR_FIELDS]),
            ),
            T.StructField(
                "hours",
                T.StructType([T.StructField(d, T.StringType()) for d in _WEEKDAYS]),
            ),
            T.StructField("city", T.StringType()),
            T.StructField("state", T.StringType()),
            T.StructField("is_open", T.LongType()),
            T.StructField("review_count", T.LongType()),
            T.StructField("stars", T.DoubleType()),
        ]
    ),
    "review": T.StructType(
        [
            T.StructField("review_id", T.StringType()),
            T.StructField("user_id", T.StringType()),
            T.StructField("business_ID", T.StringType()),
            T.StructField("stars", T.DoubleType()),
            T.StructField("useful", T.LongType()),
            T.StructField("date", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    ),
    "checkin": T.StructType(
        [
            T.StructField("business_ID", T.StringType()),
            T.StructField("date", T.StringType()),
        ]
    ),
    "tip": T.StructType(
        [
            T.StructField("business_id", T.StringType()),
            T.StructField("user_id", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("date", T.StringType()),
        ]
    ),
    "user": T.StructType(
        [
            T.StructField("user_id", T.StringType()),
            T.StructField("fans", T.LongType()),
        ]
    ),
    "covid": T.StructType(
        [
            T.StructField("business_id", T.StringType()),
            T.StructField("delivery or takeout", T.StringType()),
        ]
    ),
}
