"""Fixed schemas (SURVEY.md §1.2). No inference anywhere — the reference has a
closed, hand-written schema (osmio lib.rs:316-484, osmformat.proto) and so do we.

Coordinates are canonical as fixed-point int32 ``lat7/lon7`` (degrees × 1e7,
osmio lib.rs:66-71, CHANGELOG.md:76-84): bitwise-reproducible joins and tile
assignments require integer coordinates; float views are derived inside kernels.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

COORD_SCALE = 10_000_000  # 1e7
WEB_MERCATOR_LAT_MAX7 = 850_511_287  # slippy-tile validity bound (85.0511287°)

# --- north-rule primary table (BASELINE.json input_hint) -----------------
IMAGE_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("bytes", BinaryType(), True),
        StructField("w", IntegerType(), True),
        StructField("h", IntegerType(), True),
        StructField("fmt", StringType(), True),
        StructField("caption", StringType(), True),
        StructField("phash", LongType(), True),
        # derived geo columns (osmio Node position, lib.rs:374-434)
        StructField("lat7", IntegerType(), True),
        StructField("lon7", IntegerType(), True),
    ]
)

# --- broadcast polygon table (plays osmio closed-way/area, lib.rs:456-472)
RING_POINT = StructType(
    [StructField("lat7", IntegerType(), False), StructField("lon7", IntegerType(), False)]
)
ADMIN_BOUNDARY_SCHEMA = StructType(
    [
        StructField("boundary_id", LongType(), False),
        StructField("name", StringType(), True),
        StructField("ring", ArrayType(RING_POINT), False),  # closed: first == last
        StructField("holes", ArrayType(ArrayType(RING_POINT)), True),
        StructField("tags", MapType(StringType(), StringType()), True),
    ]
)

# --- osmio data model (lib.rs:316-484; obj_types/string_types.rs:26-105) --
_OSM_META = [
    StructField("id", LongType(), False),
    StructField("version", IntegerType(), True),
    StructField("deleted", BooleanType(), True),
    StructField("changeset_id", IntegerType(), True),
    StructField("timestamp", TimestampType(), True),
    StructField("uid", IntegerType(), True),
    StructField("user", StringType(), True),
    StructField("tags", MapType(StringType(), StringType()), True),
]
OSM_NODE_SCHEMA = StructType(
    _OSM_META
    + [StructField("lat7", IntegerType(), True), StructField("lon7", IntegerType(), True)]
)
OSM_WAY_SCHEMA = StructType(_OSM_META + [StructField("nodes", ArrayType(LongType()), True)])
OSM_MEMBER = StructType(
    [
        StructField("type", StringType(), False),  # 'n' | 'w' | 'r' (lib.rs:495-501)
        StructField("ref", LongType(), False),
        StructField("role", StringType(), True),
    ]
)
OSM_RELATION_SCHEMA = StructType(_OSM_META + [StructField("members", ArrayType(OSM_MEMBER), True)])

# union stream with discriminator (OSMObjectType, lib.rs:488-501)
OSM_OBJ_SCHEMA = StructType(
    [StructField("obj_type", StringType(), False)]
    + _OSM_META
    + [
        StructField("lat7", IntegerType(), True),
        StructField("lon7", IntegerType(), True),
        StructField("nodes", ArrayType(LongType()), True),
        StructField("members", ArrayType(OSM_MEMBER), True),
    ]
)

# --- changesets (changesets.rs:37-50) -------------------------------------
CHANGESET_SCHEMA = StructType(
    [
        StructField("id", IntegerType(), False),
        StructField("created", TimestampType(), True),
        StructField("closed", TimestampType(), True),
        StructField("open", BooleanType(), True),
        StructField("uid", LongType(), True),
        StructField("user", StringType(), True),
        StructField("tags", MapType(StringType(), StringType()), True),
        StructField("num_changes", LongType(), True),
        StructField("comments_count", LongType(), True),
    ]
)
