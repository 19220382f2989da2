"""Deterministic dedup operators (A4 + training-data dedup family).

``dropDuplicates`` is shuffle-order-dependent (keeps an arbitrary row per
key), so the crawl path never uses it; first-wins dedup is expressed as an
explicit min-by over a total order — identical result at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def first_wins(df: DataFrame, key: str, order_cols: list[str]) -> DataFrame:
    """Keep, per key, the row that is minimal under order_cols (A4).

    order_cols must be a total order per key (include a unique tiebreaker).
    Implemented as ``min_by(struct(<row>), struct(<order>))`` — a hash
    aggregate with MAP-SIDE PARTIAL AGGREGATION, so duplicate keys collapse
    before the shuffle. A window-rank formulation would ship every raw row
    through the exchange; on a link stream with ~4x duplication that is 4x
    the shuffle bytes. Deterministic: min over a total order.
    """
    cols = df.columns
    row = F.struct(*[F.col(c) for c in cols])
    order = F.struct(*[F.col(c) for c in order_cols])
    agg = df.groupBy(key).agg(F.min_by(row, order).alias("_row"))
    return agg.select(*[F.col(f"_row.{c}").alias(c) for c in cols])


def exact_dedup(
    df: DataFrame,
    content_col: str,
    id_col: str,
    hash_expr: F.Column | None = None,
    broadcast_max_keys: int = 1_000_000,
) -> DataFrame:
    """Exact content dedup, two-level: never ships the corpus body bytes
    through a shuffle.

      level 1: group by (xxhash64(content), length(content)) — a 12-byte
               key — with map-side partial counts; keys with count > 1
               (the duplicate groups, a tiny fraction of a real corpus)
               form the dup-key set.
      level 2: ONLY rows in duplicate groups re-group by (hash, len,
               content) to confirm equality exactly — so a 64-bit hash
               collision between different texts still yields separate
               groups and the result is identical to GROUP BY content.
               Singletons (the vast majority) emit (id, 1) with no
               content shuffle at all. Skipped entirely (no second corpus
               job) when the corpus has zero duplicate candidates.

    At 100 TB the old single-level GROUP BY content shipped the corpus
    body through the exchange; here the full-table exchange carries only
    (hash, len, id) and content moves only for rows that actually have a
    duplicate-candidate. The level-1 aggregate is computed ONCE and
    materialized EAGERLY (this function runs one Spark job at call time:
    the aggregate feeds the singleton answer, the dup-key set, and the
    dup-key count that decides the level-2 plan shape; it is
    localCheckpoint-backed so the blocks free themselves when the result
    is GC'd), and the dup-key semi-join is broadcast only while the dup-key
    count stays under ``broadcast_max_keys`` — on corpora with ~30%
    duplication the dup-key set is O(corpus) and a forced broadcast would
    OOM; past the threshold it degrades to a shuffle semi-join (AQE may
    still pick broadcast from runtime sizes). ``hash_expr`` is injectable
    for collision tests.

    NULL content is preserved: length(NULL) is NULL, so ``_len`` is
    coalesced to a -1 sentinel (lengths are never negative) — otherwise
    the level-2 equi-join would silently drop NULL-content rows that share
    a group (NULL != NULL), breaking GROUP-BY-content parity.

    -> (keep_id, dup_cnt): smallest id per distinct content + group size,
    byte-identical to ``GROUP BY content`` (the oracle form).
    """
    h = hash_expr if hash_expr is not None else F.xxhash64(content_col)
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.col(content_col).alias("_txt"),
        h.alias("_h"),
        F.coalesce(F.length(content_col), F.lit(-1)).alias("_len"),
    )
    # NOTE eager: this call runs one Spark job up front (the level-1
    # aggregate must be materialized to decide the level-2 plan shape
    # below). localCheckpoint rather than persist(): the blocks back the
    # three consumers (singles, dup_keys, the gate count) exactly like a
    # cache, but are released by the ContextCleaner when the returned
    # DataFrame is garbage-collected — persist() pinned them in the cache
    # manager forever (one leaked aggregate per call across the full-key
    # battery / bench loop).
    lvl1 = keyed.groupBy("_h", "_len").agg(
        F.min("_id").alias("keep_id"), F.count(F.lit(1)).alias("_gc")
    ).localCheckpoint()
    # singleton groups are fully answered by the narrow aggregate — their
    # keep_id IS the row id and dup_cnt = 1; no row-level revisit at all
    singles = lvl1.filter(F.col("_gc") == 1).select(
        "keep_id", F.lit(1).cast("long").alias("dup_cnt")
    )
    dup_keys = lvl1.filter(F.col("_gc") > 1).select("_h", "_len")
    # one O(1)-result action on the checkpointed aggregate decides the
    # shape of level 2; the same materialized lvl1 serves singles + dup_keys
    n_dup_keys = dup_keys.count()
    if n_dup_keys == 0:
        return singles
    joinable = (
        F.broadcast(dup_keys) if n_dup_keys <= broadcast_max_keys else dup_keys
    )
    # semi-join: the second corpus pass shuffles only rows that actually
    # have a duplicate-candidate (equi-join is NULL-safe via the sentinel)
    multi = (
        keyed.join(joinable, ["_h", "_len"], "left_semi")
        .groupBy("_h", "_len", "_txt")  # exact within-group confirmation
        .agg(F.min("_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_cnt"))
        .select("keep_id", "dup_cnt")
    )
    return singles.unionByName(multi)


def _shingle_occurrences(
    docs: DataFrame, id_col: str, text_col: str, k: int, hash_shingles: bool
) -> DataFrame:
    """-> (id, pos, _g): one row per k-token shingle occurrence, pos the
    1-based token position. Tokens are single-space splits (the corpus
    module's shingling convention — ngram_contamination); with
    ``hash_shingles`` the shuffle carries an 8-byte hash instead of the
    k-token string. Pure JVM: sequence + transform + explode.

    Perf shape (r06): the token array is materialized in a child Project
    BEFORE the per-position lambda — an inline ``split()`` referenced
    inside ``transform``'s lambda re-splits the text once per position
    (O(tokens²) per doc; measured 3.5× of the pass cost at sf1.0). For
    the hashed path each token is hashed ONCE and a shingle's hash is
    ``xxhash64`` over its k token-hashes (position-sensitive, 64 bytes
    hashed per shingle instead of building + hashing the k-token string;
    another ~2× off the pass). Shingle-hash equality still coincides with
    shingle equality absent birthday(2^64) collisions — the only property
    any consumer relies on — so outputs are unchanged.
    """
    if hash_shingles:
        th = docs.select(
            F.col(id_col),
            F.transform(F.split(text_col, " "), lambda t: F.xxhash64(t)).alias(
                "_th"
            ),
        )
        tv = F.col("_th")
        occ = F.explode(
            F.when(
                F.size(tv) >= k,
                F.transform(
                    F.sequence(F.lit(1), F.size(tv) - F.lit(k - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.xxhash64(
                            *[F.element_at(tv, i + j) for j in range(k)]
                        ).alias("g"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<pos:int,g:bigint>>"))
        ).alias("_s")
        return th.select(F.col(id_col), occ).select(
            id_col, F.col("_s.pos").alias("pos"), F.col("_s.g").alias("_g")
        )
    toks = docs.select(F.col(id_col), F.split(text_col, " ").alias("_w"))
    wv = F.col("_w")
    occ = F.explode(
        F.when(
            F.size(wv) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(wv) - F.lit(k - 1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.concat_ws(" ", F.slice(wv, i, k)).alias("g"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<pos:int,g:string>>"))
    ).alias("_s")
    return toks.select(F.col(id_col), occ).select(
        id_col, F.col("_s.pos").alias("pos"), F.col("_s.g").alias("_g")
    )


def _merge_spans(occ: DataFrame, id_col: str, k: int) -> DataFrame:
    """Gaps-and-islands merge of flagged shingle positions into maximal
    token spans: occurrences at positions p < q cover overlapping or
    adjacent token ranges iff q - p <= k, so a new island starts when the
    gap exceeds k. Two window passes over the same (id) partitioning —
    one shuffle — then a hash aggregate per island.
    -> (id, span_start, span_end, n_tokens), token positions inclusive."""
    from pyspark.sql import Window

    win = Window.partitionBy(id_col).orderBy("pos")
    isl = (
        occ.withColumn("_prev", F.lag("pos").over(win))
        .withColumn(
            "_new",
            (F.col("_prev").isNull() | (F.col("pos") - F.col("_prev") > k))
            .cast("int"),
        )
        .withColumn("_isl", F.sum("_new").over(win))
    )
    return isl.groupBy(id_col, "_isl").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(k - 1)).alias("span_end"),
        (F.max("pos") + F.lit(k - 1) - F.min("pos") + 1).alias("n_tokens"),
    ).drop("_isl")


def duplicate_passages(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    hash_shingles: bool = True,
) -> DataFrame:
    """Substring/passage-level dedup, flagging form — the Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better",
    https://arxiv.org/abs/2107.06499) exact-substring pass that runs
    alongside doc-level LSH in a training-corpus pipeline, bounded to
    k-token resolution so no suffix array is needed:

      1. every k-token shingle occurrence -> (id, pos, hash)   [JVM explode]
      2. shingles occurring >= 2 times globally (in any doc, including
         twice within one doc) mark ALL their occurrences as duplicated
         [8-byte hash aggregate with map-side partials + semi-join back;
         AQE broadcasts the dup-key side when runtime-small]
      3. per doc, flagged positions merge into maximal spans (overlap or
         adjacency: gap <= k)                   [one window partitioning]

    -> (id, span_start, span_end, n_tokens): inclusive 1-based token spans
    of every duplicated passage (>= k tokens by construction). All copies
    are flagged (detection form); ``remove_duplicate_passages`` is the
    keep-first removal form. hash_shingles=False gives the exact-string
    semantics of the DuckDB oracle (identical output absent 2^-64
    collisions).

    Scale shape: the only wide exchanges are the shingle-hash aggregate
    (8-byte keys, partial-aggregated map-side) and the per-doc window
    (keyed on doc id, carrying only flagged positions — the duplicated
    fraction, not the token stream). The corpus body never shuffles.

    NOTE eager (r06): the occurrence frame is materialized once
    (localCheckpoint) — it feeds BOTH the dup-key aggregate and the
    flagging semi-join, and without the checkpoint the plan re-reads and
    re-shingles the whole corpus for each consumer (measured: the second
    shingle pass was ~25% of the query at sf1.0). The checkpointed rows
    are (id, pos, hash) — O(corpus tokens) × 20 bytes, spilling to local
    disk like any shuffle — and free themselves on GC.
    """
    occ = _shingle_occurrences(
        docs, id_col, text_col, k, hash_shingles
    ).localCheckpoint()
    dup_keys = (
        occ.groupBy("_g").agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("_g")
    )
    flagged = occ.join(dup_keys, "_g", "left_semi")
    return _merge_spans(flagged, id_col, k)


def build_shingle_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    hash_shingles: bool = True,
) -> DataFrame:
    """Persistable substring-dedup index: one (shingle-hash, occurrence
    count) row per distinct k-token shingle — 16 bytes per distinct
    shingle instead of the corpus body. Pairs with
    :func:`incremental_duplicate_passages` the way build_exact_index
    pairs with dedup_against_index.

    Warehouse note (100-TB shape): persist this bucketed/sorted on the
    hash (``bucketBy``/Iceberg ``bucket(N, _g)``) so the probe-time join
    against a new batch's shingle counts co-partitions storage-side and
    never reshuffles the index."""
    occ = _shingle_occurrences(docs, id_col, text_col, k, hash_shingles)
    return occ.groupBy("_g").agg(F.count(F.lit(1)).alias("cnt"))


def merge_shingle_index(index: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a new batch's shingle counts (build_shingle_index output)
    into the persisted index: count-sum per hash — a narrow 16-byte
    aggregate, O(index + delta)."""
    return (
        index.unionByName(delta)
        .groupBy("_g")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def incremental_duplicate_passages(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    hash_shingles: bool = True,
) -> DataFrame:
    """Substring/passage dedup for a NEW document batch against the
    persisted shingle index — the old corpus is never re-shingled or
    re-read: an occurrence in a new doc is duplicated iff its shingle's
    total count (index + this batch) is >= 2, which is fully decidable
    from the 16-byte index rows.

    Equals duplicate_passages(old ∪ new) restricted to spans in new docs
    (pinned by tests/test_training_ops.py::
    test_incremental_duplicate_passages_matches_self) — the flagging
    predicate "global occurrence count >= 2" decomposes exactly into
    old-count + new-count. Update the index afterwards with
    ``merge_shingle_index(index, build_shingle_index(new_docs, ...))``.

    -> (id, span_start, span_end, n_tokens) over new docs only.
    Eager like duplicate_passages (r06): the new batch's occurrence frame
    is checkpointed once instead of re-shingling the batch for the count
    aggregate and again for the flagging semi-join.
    """
    occ = _shingle_occurrences(
        new_docs, id_col, text_col, k, hash_shingles
    ).localCheckpoint()
    newcnt = occ.groupBy("_g").agg(F.count(F.lit(1)).alias("_nc"))
    dup_keys = (
        newcnt.join(index.select("_g", F.col("cnt").alias("_oc")), "_g", "left")
        .filter(F.coalesce(F.col("_oc"), F.lit(0)) + F.col("_nc") >= 2)
        .select("_g")
    )
    flagged = occ.join(dup_keys, "_g", "left_semi")
    return _merge_spans(flagged, id_col, k)


def remove_duplicate_passages(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    hash_shingles: bool = True,
) -> DataFrame:
    """Keep-first removal form of :func:`duplicate_passages`: every
    occurrence of a duplicated k-token shingle EXCEPT the globally first
    one (minimal (id, pos) — deterministic at any parallelism) is
    removed; the survivor text is the original tokens minus the covered
    positions, single-space rejoined.

    -> docs columns + ``clean_text`` + ``n_removed_tokens``. Documents
    with nothing to remove pass through with clean_text == the
    space-normalized original. The rebuild (collect flagged positions ->
    array_except over the token position stream) stays JVM-side:
    positions explode only for docs that HAVE removable spans.
    (r06 note: an occurrence-frame checkpoint like duplicate_passages'
    was measured here at two scales and REGRESSED both — this function's
    second shingle pass is map-side work folded into the removable join,
    cheaper than materializing the occurrence rows. Left lazy.)
    """
    occ = _shingle_occurrences(docs, id_col, text_col, k, hash_shingles)
    firsts = occ.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_c"),
        F.min(F.struct(id_col, "pos")).alias("_first"),
    )
    removable = (
        occ.join(firsts.filter(F.col("_c") >= 2), "_g")
        .filter(
            ~(
                (F.col(id_col) == F.col(f"_first.{id_col}"))
                & (F.col("pos") == F.col("_first.pos"))
            )
        )
        .select(id_col, "pos")
    )
    spans = _merge_spans(removable, id_col, k)
    # r06 (VERDICT r05 minor #2): the rebuild keeps the SPAN list per doc
    # (few merged maximal spans) instead of exploding every covered
    # position into a set — the old keep-filter ran array_contains(_drop,
    # p) per token, O(tokens x dropped positions) per doc (a fully-
    # duplicated 10^5-token doc did 10^10 membership tests in one task).
    # Spans from _merge_spans are DISJOINT (a new island starts only when
    # the gap exceeds k, so prev span_end = prev_max_pos + k - 1 <
    # next span_start), hence: covered-position count == sum of span
    # lengths, and "position kept" == "no span contains it" — an
    # O(tokens x spans) filter, linear for the pathological doc (1 span).
    # Output is identical to the position-set form.
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(F.col("span_start").alias("a"), F.col("span_end").alias("b"))
        ).alias("_spans"),
        F.sum("n_tokens").alias("_n_rm"),
    )
    toks = F.split(text_col, " ")
    keep = F.filter(
        F.transform(
            toks, lambda t, i: F.struct((i + 1).alias("p"), t.alias("t"))
        ),
        lambda s: ~F.exists(
            F.col("_spans"), lambda sp: (s["p"] >= sp["a"]) & (s["p"] <= sp["b"])
        ),
    )
    return (
        docs.join(per_doc, id_col, "left")
        .withColumn(
            "n_removed_tokens",
            F.coalesce(F.col("_n_rm"), F.lit(0)).cast("long"),
        )
        .withColumn(
            "clean_text",
            F.when(F.col("_spans").isNull(), F.concat_ws(" ", toks)).otherwise(
                F.concat_ws(" ", F.transform(keep, lambda s: s["t"]))
            ),
        )
        .drop("_spans", "_n_rm")
    )


def mark_content_dups(
    docs: DataFrame,
    content_seen: DataFrame | None,
    hash_col: str = "content_hash",
    order_col: str = "fetch_seq",
    eager: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Content-seen dedup (the Mercator content-seen test, as distinct from
    the URL-seen test): flag documents whose content hash was already
    fetched — by an earlier cycle (``content_seen`` log) or by an earlier
    row of this batch (first-wins under the ``order_col`` total order, so
    the flag is deterministic at any parallelism).

    -> (docs + is_content_dup: boolean, content_seen_delta) where the delta
    holds one (content_hash, first_<order_col>) row per NEWLY seen hash —
    append it to the log exactly like the URL seen log (O(delta)/cycle).
    ``order_col`` must be unique within a hash (a total order), or tied
    first rows would each count as the first.
    Note: 64-bit hash collisions mark false duplicates at ~birthday(2^64)
    odds; callers needing exactness re-check span_fingerprint equality on
    flagged rows (the two-level exact_dedup pattern).
    """
    # ONE shuffle: the batch rows and the log's hashes are unioned and
    # windowed by hash, so every row learns its group's first order value
    # and whether the log holds its hash in place — no aggregate that is
    # joined back to the rows (three more exchanges)
    rows = docs.withColumn("_log", F.lit(False))
    if content_seen is not None:
        rows = rows.unionByName(
            content_seen.select(
                *[
                    F.col(c) if c == hash_col
                    else F.lit(None).cast(docs.schema[c].dataType).alias(c)
                    for c in docs.columns
                ],
                F.lit(True).alias("_log"),
            )
        )
    w = Window.partitionBy(hash_col)
    first = F.min(F.when(~F.col("_log"), F.col(order_col))).over(w)
    flagged = (
        rows.withColumn(
            "is_content_dup",
            F.max("_log").over(w) | (F.col(order_col) != first),
        )
        .filter(~F.col("_log"))
        .drop("_log")
    )
    if eager:
        # both returned frames are typically written to two different
        # sinks — materialize the window once (localCheckpoint blocks free
        # on GC)
        flagged = flagged.localCheckpoint()
    delta = flagged.filter(~F.col("is_content_dup")).select(
        hash_col, F.col(order_col).alias(f"first_{order_col}")
    )
    return flagged, delta


def build_exact_index(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Persistable exact-dup index: one (content_hash, content_len, keep_id)
    row per distinct content — 20 bytes/doc instead of the corpus body.
    keep_id points at the canonical (smallest-id) copy, whose content is
    fetched for confirmation at probe time."""
    return (
        df.groupBy(
            F.xxhash64(content_col).alias("content_hash"),
            F.length(content_col).alias("content_len"),
            F.col(content_col).alias("_txt"),
        )
        .agg(F.min(id_col).alias("keep_id"))
        .select("content_hash", "content_len", "keep_id")
    )


def dedup_against_index(
    new_df: DataFrame,
    index: DataFrame,
    corpus: DataFrame,
    content_col: str,
    id_col: str,
) -> DataFrame:
    """Incremental exact dedup: flag each NEW row as a duplicate of the
    existing corpus without re-reading the corpus body.

      1. probe: equi-join new rows' (hash, len) against the narrow index —
         only hash-candidate rows survive (a tiny set on a real corpus)
      2. confirm: fetch the canonical copy's content by keep_id (an
         id-keyed join against the corpus, touching only candidate ids)
         and compare texts exactly, so index hash collisions cannot
         produce false dup_of assignments

    -> new_df columns + ``dup_of`` (smallest matching corpus id, null if
    the content is genuinely new). Mirrors the crawl seen-filter pattern
    (operators/seenfilter.py): approximate prefilter, exact confirmation.
    """
    probed = new_df.withColumn("_h", F.xxhash64(content_col)).withColumn(
        "_len", F.length(content_col)
    )
    cand = probed.join(
        index,
        (F.col("_h") == index.content_hash) & (F.col("_len") == index.content_len),
    )
    canon = corpus.select(
        F.col(id_col).alias("keep_id"), F.col(content_col).alias("_canon_txt")
    )
    confirmed = (
        cand.join(canon, "keep_id")
        .filter(F.col(content_col) == F.col("_canon_txt"))
        .groupBy(F.col(id_col).alias("_nid"))
        .agg(F.min("keep_id").alias("dup_of"))
    )
    return (
        probed.join(confirmed, probed[id_col] == confirmed._nid, "left")
        .drop("_nid", "_h", "_len")
    )
