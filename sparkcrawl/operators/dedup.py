"""URL dedup — U2 batch distinct + F1/J1 seen-set filtering (SURVEY §2.2/§2.3/§2.7).

The reference dedups sequentially (``UniqueUriFilter.is_known(url,
add_if_unknown=True)`` called per discovered link in frontier.add_uri —
src/spyder/core/{uri_uniq,frontier}.py). Set-oriented re-expression:

  1. U2 within-batch distinct with deterministic first-discovery-wins
     (stable order, SURVEY §7 hard-part #1),
  2. F1/J1 ``left_anti`` join against the seen keys — the only seen-set
     filter. A membership prefilter could not skip it: the join reads
     every seen key either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkcrawl.config import CrawlConfig


def batch_distinct(candidates: DataFrame) -> DataFrame:
    """U2: one row per url_hash within the discovery batch.

    First-discovery-wins, deterministically: order by the discovering
    page's politeness slot then source url_hash — mirrors the
    reference's sequential is_known(add_if_unknown=True) under the
    superstep's total fetch order.

    Implemented as a hash aggregation (min_by over the order key), not a
    window: no per-partition full sort, and partial map-side combine
    shrinks the shuffle when duplicates are common — the scale-relevant
    difference at 10^10 candidates.
    """
    order_cols = [c for c in ("slot", "src_url_hash") if c in candidates.columns]
    order_key = F.struct(*[F.col(c) for c in order_cols], F.col("url"))
    payload_cols = [c for c in candidates.columns if c != "url_hash"]
    agg = candidates.groupBy("url_hash").agg(
        F.min_by(F.struct(*payload_cols), order_key).alias("_row")
    )
    return agg.select("url_hash", *[F.col(f"_row.{c}").alias(c) for c in payload_cols]) \
        .select(*candidates.columns)


def filter_unseen(
    candidates: DataFrame, seen: DataFrame, cfg: CrawlConfig
) -> DataFrame:
    """F1+J1: keep candidates whose url_hash is not in the seen set.

    ``seen`` is a (url_hash) DataFrame — in practice the frontier's key
    projection; repeated keys are harmless to an anti-join. ``cfg`` is
    kept for callers that pass it; no config changes the result.
    """
    return candidates.join(seen.select("url_hash"), "url_hash", "left_anti")
