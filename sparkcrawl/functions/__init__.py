"""Scalar + vectorized column functions (SURVEY §2.8, §2.2).

Everything here is either a JVM-side column expression (preferred) or an
Arrow-vectorized pandas UDF — zero per-row Python UDFs (input_hint).
"""

from sparkcrawl.functions.hashing import md5_bucket, queue_for_domain, url_sha1
from sparkcrawl.functions.urlnorm import (
    canonicalize_series,
    canonicalize_udf,
    host_of_canonical_col,
    strip_session_ids,
    with_canonical_host,
)

__all__ = [
    "canonicalize_series",
    "canonicalize_udf",
    "host_of_canonical_col",
    "md5_bucket",
    "queue_for_domain",
    "strip_session_ids",
    "url_sha1",
    "with_canonical_host",
]
