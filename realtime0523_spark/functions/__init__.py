from realtime0523_spark.functions.scalar import (
    round2,
    round9,
    ROUND2_SQL,
    derive_date_hour_from_ts,
    derive_date_hour_from_string,
    bucket_label,
    gender_decode,
    status_decode,
)

__all__ = [
    "round2",
    "round9",
    "ROUND2_SQL",
    "derive_date_hour_from_ts",
    "derive_date_hour_from_string",
    "bucket_label",
    "gender_decode",
    "status_decode",
]
