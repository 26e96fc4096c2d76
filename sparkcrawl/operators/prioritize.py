"""Priority + requeue-time calculation (C8) and error backoff (T4).

Re-expresses ``SimpleTimestampPrioritizer.calculate_priority``
(src/spyder/core/prioritizer.py, SURVEY C8) and the frontier's
per-outcome handlers (``process_successful_crawl`` /
``process_not_found`` / ``process_redirect`` / ``process_server_error``,
src/spyder/core/frontier.py ≈L230-290) as pure column expressions —
JVM-side, whole-stage-codegen'd, no UDF.

Semantics (pinned by golden/requeue.json — the reference tree was empty
at build time, SURVEY §0):
  200 changed      -> priority = 1;            requeue at T + delta * prio
  304 not-modified -> priority = min(P, p+1);  requeue at T + delta * prio
  3xx redirect     -> priority unchanged;      requeue at T + delta * prio
                      (Location flows back as a discovered link, C4)
  404 not found    -> state = gone (dropped from future scheduling)
  5xx server error -> error_count += 1; if >= max_retries -> gone,
                      else retry at T + backoff * error_count
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkcrawl.config import CrawlConfig


def apply_outcomes(fetched: DataFrame, virtual_time, cfg: CrawlConfig) -> DataFrame:
    """§3.4 step 8: map fetch results to requeued frontier rows.

    Input: fetch batch with frontier columns + status_code/rep headers.
    Output: frontier-schema rows (the requeue branch of U1).
    """
    status = F.col("status_code")
    is_success = status == 200
    is_unchanged = status == 304
    is_redirect = status.between(300, 399) & ~is_unchanged
    is_not_found = status.between(400, 499)
    is_server_error = (status >= 500) | status.isNull()

    new_priority = (
        F.when(is_success, F.lit(1))
        .when(is_unchanged, F.least(F.lit(cfg.num_priorities), F.col("priority") + 1))
        .otherwise(F.col("priority"))
        .cast("int")
    )
    new_error_count = (
        F.when(is_server_error, F.col("error_count") + 1)
        .otherwise(F.lit(0))
        .cast("int")
    )
    new_state = (
        F.when(is_not_found, F.lit("gone"))
        .when(is_server_error & (new_error_count >= cfg.max_retries), F.lit("gone"))
        .otherwise(F.lit("pending"))
    )
    t = F.lit(virtual_time)
    requeue_delay = F.when(
        is_server_error,
        new_error_count.cast("long") * F.lit(int(cfg.error_backoff_seconds)),
    ).otherwise(new_priority.cast("long") * F.lit(int(cfg.delta_seconds)))
    # gone rows are never rescheduled: next_date stays as-is (parity spec)
    new_next_date = F.when(
        new_state == "gone", F.col("next_date")
    ).otherwise(F.timestamp_add("SECOND", requeue_delay, t))

    # S3 analog _uri_from_curi: etag/mod_date refreshed from response headers
    new_etag = F.when(is_success, F.col("rep_etag")).otherwise(F.col("etag"))
    new_mod_date = F.when(is_success, F.col("rep_last_modified")).otherwise(
        F.col("mod_date")
    )

    return fetched.select(
        "url",
        "url_hash",
        "host",
        "registered_domain",
        "queue",
        new_etag.alias("etag"),
        new_mod_date.alias("mod_date"),
        new_next_date.alias("next_date"),
        new_priority.alias("priority"),
        new_error_count.alias("error_count"),
        new_state.alias("state"),
        "discovered_superstep",
    )


def outcome_class(status) -> F.Column:
    """A3/S6: outcome routing column (sink callbacks re-expressed as when())."""
    return (
        F.when(status == 200, F.lit("success"))
        .when(status == 304, F.lit("not_modified"))
        .when(status.between(300, 399), F.lit("redirect"))
        .when(status.between(400, 499), F.lit("not_found"))
        .otherwise(F.lit("server_error"))
    )
