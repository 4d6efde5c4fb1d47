"""Schemas of the OSM parse and the shaped tables.

The reference declares its schemas as field-order lists
(``amsterdam_map_data_wrangling.py:92-96``) and relies on positional
CSV↔SQLite binding (comment at ``:91``). Here the XML parse reads into
typed StructTypes (SURVEY.md §1.3): ids are longs, lat/lon doubles —
SQLite's everything-is-a-string dynamic typing is deliberately not
reproduced. The five shaped tables keep the reference's column order
through the ``*_FIELDS`` lists, with their types set by the shaping
expressions in ``pipeline.py``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# OSM raw (XML-parsed) schemas — source model per SURVEY.md §1.1.
# Attribute columns carry the XML attribute prefix ``_`` as produced by
# Spark's built-in XML reader; tag/nd children are arrays of structs.
# ---------------------------------------------------------------------------

TAG_STRUCT = T.StructType(
    [
        T.StructField("_k", T.StringType()),
        T.StructField("_v", T.StringType()),
    ]
)

ND_STRUCT = T.StructType([T.StructField("_ref", T.LongType())])

OSM_NODE_RAW = T.StructType(
    [
        T.StructField("_id", T.LongType()),
        T.StructField("_lat", T.DoubleType()),
        T.StructField("_lon", T.DoubleType()),
        T.StructField("_user", T.StringType()),
        T.StructField("_uid", T.LongType()),
        T.StructField("_version", T.IntegerType()),
        T.StructField("_changeset", T.LongType()),
        T.StructField("_timestamp", T.StringType()),
        T.StructField("tag", T.ArrayType(TAG_STRUCT)),
    ]
)

OSM_WAY_RAW = T.StructType(
    [
        T.StructField("_id", T.LongType()),
        T.StructField("_user", T.StringType()),
        T.StructField("_uid", T.LongType()),
        T.StructField("_version", T.IntegerType()),
        T.StructField("_changeset", T.LongType()),
        T.StructField("_timestamp", T.StringType()),
        T.StructField("tag", T.ArrayType(TAG_STRUCT)),
        T.StructField("nd", T.ArrayType(ND_STRUCT)),
    ]
)

#: Column order of the five shaped tables, as in the reference CSV outputs
#: (amsterdam_map_data_wrangling.py:92-96).
NODE_FIELDS = ["id", "lat", "lon", "user", "uid", "version", "changeset", "timestamp"]
NODE_TAGS_FIELDS = ["id", "key", "value", "type"]
WAY_FIELDS = ["id", "user", "uid", "version", "changeset", "timestamp"]
WAY_TAGS_FIELDS = ["id", "key", "value", "type"]
WAY_NODES_FIELDS = ["id", "node_id", "position"]

#: Star-schema test tables (TESTDATA.md); names double as view names.
STAR_TABLES = [
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
]
