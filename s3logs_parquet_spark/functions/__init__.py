from s3logs_parquet_spark.functions.hashing import affine_coeffs, hash32, hash32_sql  # noqa: F401
from s3logs_parquet_spark.functions.parse import (  # noqa: F401
    TOKEN_PATTERN,
    extract_bucket,
    extract_ts,
    parse_s3_access_log,
    tokenize,
)
from s3logs_parquet_spark.functions.text_analysis import (  # noqa: F401
    fingerprint,
    langid,
    quality_features,
    quality_score,
)
