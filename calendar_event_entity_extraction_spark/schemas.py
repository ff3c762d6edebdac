"""Fixed schemas for the engine.

The 8-field event struct mirrors the reference's closed output schema
(``augmentation/utils.py:8`` ``TARGET_KEYS``, ``src/validate_json.py:8-9``):
missing values are JSON ``null`` — never empty string, never empty list.
"""

from __future__ import annotations

from pyspark.sql import types as T

# The closed 8-key output schema of the reference (augmentation/utils.py:8).
TARGET_KEYS = [
    "action",
    "date",
    "time",
    "attendees",
    "location",
    "duration",
    "recurrence",
    "notes",
]

# Input table per BASELINE.json input_hint.
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# The extracted event struct (reference §1.2 field types).
EVENT_STRUCT = T.StructType(
    [
        T.StructField("action", T.StringType(), True),
        T.StructField("date", T.StringType(), True),
        T.StructField("time", T.StringType(), True),
        T.StructField("attendees", T.ArrayType(T.StringType()), True),
        T.StructField("location", T.StringType(), True),
        T.StructField("duration", T.StringType(), True),
        T.StructField("recurrence", T.StringType(), True),
        T.StructField("notes", T.StringType(), True),
    ]
)
