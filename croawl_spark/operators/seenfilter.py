"""Partitioned Bloom membership filter maintained via vectorized Arrow UDFs (A6).

One Bloom filter per hash bucket (bucket = pmod(url_hash, n_buckets)), stored
as a binary bit-array row (schema ``tables.SEEN_FILTER``). The filter is a
*prefilter* in front of an exact anti-join: "definitely new" candidates skip
the join against the exact log entirely; "maybe seen" candidates go through
the exact join, which erases false positives. False negatives are
impossible (every inserted hash sets its bits), so exactness is preserved.

Users: the streaming corpus ingest (``streaming/jobs.py``, its
``content_filter`` table), where a negative answer lets a batch skip the
content_seen log read altogether, and the ``bloom_roundtrip`` battery
query. The crawl's URL-seen test is the exact anti-join alone: there the
anti-join runs every cycle regardless, so a prefilter only added work.

Sizing: m bits per bucket is FIXED per deployment (config) so incremental
delta-builds can OR into existing arrays. At the 10^10-item design point:
4096 buckets x m=2^31 bits ≈ 1 GiB/bucket-row is wrong — instead scale
n_buckets (e.g. 2^20 buckets x 2^17 bits = 16 KiB each ≈ 10 bits/item),
keeping each bucket row small enough to shuffle freely.

All bit math is numpy (Arrow batches in, numpy out) — no per-row Python.
Double hashing: position_i = (h1 + i*h2) mod m with h1/h2 the two 32-bit
halves of the xxhash64 key (Kirsch-Mitzenmacher construction).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from croawl_spark.tables import SEEN_FILTER

K_HASHES = 5


def _positions(hashes: np.ndarray, m: int) -> np.ndarray:
    """(n, K) probe positions for int64 hashes, vectorized."""
    u = hashes.astype(np.uint64)
    h1 = (u & np.uint64(0xFFFFFFFF)).astype(np.int64)
    h2 = ((u >> np.uint64(32)) | np.uint64(1)).astype(np.int64)
    i = np.arange(K_HASHES, dtype=np.int64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % m


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    flat = pos.ravel()
    np.bitwise_or.at(bits, flat >> 3, (1 << (flat & 7)).astype(np.uint8))


def _test_bits(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """-> bool[n]: all K bits set (maybe-seen)."""
    b = (bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
    return b.all(axis=1)


def build_filter(
    seen: DataFrame, n_buckets: int = 64, m_bits: int = 1 << 15,
    existing: DataFrame | None = None,
) -> DataFrame:
    """Build (or incrementally extend) the per-bucket Bloom table from
    ``seen(url_hash, ...)``. ``existing`` is OR-merged (same m_bits)."""
    mb = m_bits

    # NOTE: the delta hashes and the prior bit blobs are kept in SEPARATE
    # frames joined by cogroup — a union with NULL url_hash rows would make
    # pandas widen int64 -> float64 and silently round 64-bit hashes,
    # setting the wrong bits (a false-negative factory).
    def _merge(key, new_pdf: pd.DataFrame, old_pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(key[0])
        bits = np.zeros(mb // 8, dtype=np.uint8)
        prior = 0
        for blob in old_pdf["bits"] if len(old_pdf) else []:
            bits |= np.frombuffer(blob, dtype=np.uint8)
        if len(old_pdf):
            prior = int(old_pdf["n_items"].max())
        hashes = new_pdf["url_hash"].to_numpy(dtype=np.int64) if len(new_pdf) else np.array([], dtype=np.int64)
        if len(hashes):
            _set_bits(bits, _positions(hashes, mb))
        n = prior + len(hashes)
        fp = (1.0 - math.exp(-K_HASHES * max(n, 1) / mb)) ** K_HASHES
        return pd.DataFrame(
            {
                "bucket": [bucket],
                "kind": ["bloom"],
                "bits": [bits.tobytes()],
                "n_items": [n],
                "fp_rate": [fp],
            }
        )

    delta = seen.select(
        F.pmod("url_hash", F.lit(n_buckets)).cast("int").alias("bucket"),
        "url_hash",
    )
    if existing is None:
        from croawl_spark.tables import empty_frame

        existing = empty_frame(delta.sparkSession, SEEN_FILTER)
    return (
        delta.groupBy("bucket")
        .cogroup(existing.groupBy("bucket"))
        .applyInPandas(_merge, SEEN_FILTER)
    )


def probe_filter(
    candidates: DataFrame, filt: DataFrame, n_buckets: int = 64, m_bits: int = 1 << 15
) -> DataFrame:
    """Append boolean ``maybe_seen`` to candidates (no false negatives).

    cogroup, NOT a join: joining the bit blob onto candidates would ship
    one m_bits/8-byte copy PER ROW through the shuffle (ruinous — 32 KiB x
    millions of rows); cogrouping ships each bucket's blob exactly once and
    co-partitions with the candidates on the same pmod key the downstream
    anti-join uses.
    """
    mb = m_bits
    cand = candidates.withColumn(
        "bucket", F.pmod("url_hash", F.lit(n_buckets)).cast("int")
    )
    out_schema = (
        candidates.withColumn("maybe_seen", F.lit(True)).schema
    )
    out_cols = [f.name for f in out_schema.fields]

    def _probe(key, cand_pdf: pd.DataFrame, filt_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(cand_pdf) == 0:
            return pd.DataFrame(columns=out_cols)
        hashes = cand_pdf["url_hash"].to_numpy(dtype=np.int64)
        if len(filt_pdf) == 0:
            maybe = np.zeros(len(cand_pdf), dtype=bool)  # bucket never built
        else:
            bits = np.frombuffer(filt_pdf["bits"].iloc[0], dtype=np.uint8)
            maybe = _test_bits(bits, _positions(hashes, mb))
        out = cand_pdf.drop(columns=["bucket"]).copy()
        out["maybe_seen"] = maybe
        return out

    return (
        cand.groupBy("bucket")
        .cogroup(filt.select("bucket", "bits").groupBy("bucket"))
        .applyInPandas(_probe, out_schema)
    )
