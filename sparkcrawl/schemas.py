"""Engine table schemas (SURVEY §1, FIXTURES.md).

The reference's record type is one Thrift ``CrawlUri`` struct flowing
record-at-a-time over ZMQ; here each abstraction is a columnar table.
"""

from __future__ import annotations

from pyspark.sql import types as T

# A1. frontier — superset of the reference queue row
# (queue, url, etag, mod_date, next_date, priority) + lineage/state.
# Frontier deltas written before lineage_partition was dropped still
# carry it; FrontierTable drops it on read.
FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.StringType(), False),   # 40-char sha1 hex (C2)
        T.StructField("host", T.StringType(), False),
        T.StructField("registered_domain", T.StringType(), False),
        T.StructField("queue", T.IntegerType(), False),     # Q2
        T.StructField("etag", T.StringType(), True),
        T.StructField("mod_date", T.TimestampType(), True),
        T.StructField("next_date", T.TimestampType(), False),  # F6 eligibility
        T.StructField("priority", T.IntegerType(), False),     # C8
        T.StructField("error_count", T.IntegerType(), False),  # T4
        T.StructField("state", T.StringType(), False),  # pending|fetched|error|gone
        T.StructField("discovered_superstep", T.IntegerType(), False),  # lineage
    ]
)

# A2. documents — interleaved text+media spans (BASELINE.json input_hint).
SPAN_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),       # text | media
        T.StructField("text", T.StringType(), False),       # "" for media spans
        T.StructField("media_ref", T.StringType(), False),  # "" for text spans
        T.StructField("offset", T.IntegerType(), False),    # 0-based doc order
    ]
)
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_SCHEMA), False),
    ]
)

# A3. web — synthetic fetchable mini-web (sandbox stand-in for HTTP: J4).
WEB_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("status_code", T.IntegerType(), False),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("location", T.StringType(), True),    # 3xx redirect target
        T.StructField("etag", T.StringType(), True),
        T.StructField("last_modified", T.TimestampType(), True),
        T.StructField("body", T.StringType(), True),
    ]
)

# A4. robots rules (R1): one row per (host, agent, rule).
# path_prefix is nullable: a Crawl-delay line emits a delay-only row with
# NULL prefix that the allow/deny gate (R2) never matches — fabricating an
# allow rule for it would beat a real "Disallow: /" on the tie-break.
ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("agent", T.StringType(), False),
        T.StructField("allow", T.BooleanType(), False),
        T.StructField("path_prefix", T.StringType(), True),
        T.StructField("crawl_delay", T.DoubleType(), True),
    ]
)

SEEDS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
    ]
)

# checkpoints table (T5): one row per committed superstep.
CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("superstep", T.IntegerType(), False),
        T.StructField("virtual_time", T.TimestampType(), False),
        T.StructField("snapshot_id", T.StringType(), False),
        T.StructField("urls_seen_count", T.LongType(), False),
        T.StructField("fetched_count", T.LongType(), False),
        T.StructField("discovered_count", T.LongType(), False),
    ]
)

# fetch result columns added by the fetch stage (S4/J4).
FETCH_RESULT_COLUMNS = (
    "status_code",
    "content_type",
    "location",
    "rep_etag",
    "rep_last_modified",
    "body",
)
