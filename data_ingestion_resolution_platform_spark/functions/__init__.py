"""Scalar function library — pure Column expressions, JVM-side.

Everything here compiles to Catalyst expressions inside whole-stage
codegen; no Python runs per row.
"""

from data_ingestion_resolution_platform_spark.functions.normalize import (
    clean_field,
    identity_signature,
    is_valid_email_format,
    normalize_email,
    validation_issues,
)
from data_ingestion_resolution_platform_spark.functions.hashing import (
    content_sha256,
    shingles,
)
from data_ingestion_resolution_platform_spark.functions.text import (
    detect_language,
    quality_features,
    tokenize,
    token_count,
)
from data_ingestion_resolution_platform_spark.functions.vectors import (
    quantize_vector,
)

__all__ = [
    "clean_field",
    "identity_signature",
    "is_valid_email_format",
    "normalize_email",
    "validation_issues",
    "content_sha256",
    "shingles",
    "detect_language",
    "quality_features",
    "tokenize",
    "token_count",
    "quantize_vector",
]
