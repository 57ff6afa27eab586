"""Explicit StructType schemas — the engine never infers schemas (SURVEY.md §1.3).

The ``images`` schema is the BASELINE.json ``input_hint`` verbatim;
``REQUIRED_LOCATION_COLUMNS`` is the reference's upload-CSV contract (reference:
backend/sample.csv + required-column set at backend/routers/catchment.py:175).
"""

from __future__ import annotations

from pyspark.sql import types as T

# BASELINE.json input_hint: (image_id:string, bytes:binary, w:int32, h:int32,
#                            fmt:string, caption:string, phash:int64)
IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)

# reference upload CSV: required columns at backend/routers/catchment.py:175
REQUIRED_LOCATION_COLUMNS = {
    "snp_id",
    "provider_id",
    "location_id",
    "location_gps",
    "drive_distance",
    "drive_time",
}
