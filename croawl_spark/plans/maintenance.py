"""Warehouse maintenance jobs — run BETWEEN crawl cycles, never inside one.

``expire_recrawl`` is the recrawl-TTL story: URLs fetched more than
``ttl`` cycles ago are forgotten from the URL-seen set, so the next time a
link to them is discovered they are treated as new and refetched —
recrawl-on-rediscovery, the natural policy for a link-driven scheduler
(unreferenced pages age out of the crawl entirely).

Scale shape: one anti-join keyed on (url_hash, canon_url) producing the
retained seen set and one log compaction (O(retained) rewrite — amortized:
run every ~ttl cycles, not every cycle). The seen log is the crawl's only
URL-seen state, so nothing else needs updating.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from croawl_spark.sources.tableio import TableIO


def expire_recrawl(io: TableIO, ttl: int) -> dict:
    """Forget URLs whose LAST fetch is older than ttl cycles.

    Returns counters {expired, retained}. Idempotent: re-running with the
    same ttl expires nothing new. The frontier is untouched — queued URLs
    stay queued; expired URLs re-enter via normal link discovery with
    fresh disc_seqs (deterministic given the deterministic crawl).
    """
    last = io.last_committed_cycle()
    cutoff = last - ttl
    fetch_log = io.read_log("fetch_log")
    # LAST fetch per URL decides expiry (a page refetched recently stays)
    last_fetch = fetch_log.groupBy("url_hash", "canon_url").agg(
        F.max("cycle").alias("_last_cycle")
    )
    expired = last_fetch.filter(F.col("_last_cycle") <= cutoff).select(
        "url_hash", "canon_url"
    )
    seen = io.read_log("seen")
    retained = seen.join(expired, ["url_hash", "canon_url"], "left_anti")
    retained = retained.localCheckpoint()  # sever lineage from old segments
    n_exp = seen.count() - retained.count()
    io.compact_log(retained, "seen", last + 1)
    return {"expired": int(n_exp), "retained": int(retained.count())}
