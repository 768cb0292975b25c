"""Pure column-expression library — the slow-path-free building blocks.

Everything here returns :class:`pyspark.sql.Column` built from JVM-side
built-ins (whole-stage-codegen friendly); no Python row UDFs.
"""

from .base64_fns import is_base64, unbase64_str  # noqa: F401
from .nmea import (  # noqa: F401
    classify_payload,
    nmea_tokens,
    signed_latitude,
    signed_longitude,
    signed_longitude_reference_compat,
)
from .datetime_fns import event_partition_cols  # noqa: F401
from .hashing import md5_i64, md5_u32, minhash_permuted  # noqa: F401
from .text import (  # noqa: F401
    char_ngrams_from_lower,
    doc_fingerprint,
    quality_score,
    shingles_from_tokens,
    token_count,
    tokens,
)
from .sql_udfs import register_sql_functions  # noqa: F401
from .vectors import cosine_similarity, dot, l2_norm  # noqa: F401
