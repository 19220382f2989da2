"""The crawl scheduler cycle — one DataFrame DAG per cycle (SURVEY.md §3.1).

Pinned semantics (the ordering oracle in tests/oracle_sim.py implements the
SAME rules independently, single-threaded; byte-identical fetch_log and
seen-set are the driver's correctness gate):

  bootstrap (cycle 0)
    seeds: line i of the seed list has disc_seq=i BEFORE canonicalization;
    first-wins dedup per canon_url keeps the smallest disc_seq; surviving
    rows are renumbered disc_seq = rank over (original disc_seq), depth = 0.
    ALL deduped seeds enter `seen`; only robots-ALLOWED rows enter the
    frontier (longest-prefix match, allow wins ties, default allow; robots
    for a host are known when the host first appears — deterministic
    synthetic web => robots fetch is a pure function of host). Denied URLs
    are recorded in seen so they are never re-processed, and are never
    fetched. Insert-time filtering costs O(new URLs); a per-cycle frontier
    rescan would cost O(frontier) — with static robots both give the same
    fetch log.

  each cycle t:
    2. due-time gate: host eligible iff last_fetch_cycle is null or
       t >= last_fetch_cycle + ceil(crawl_delay)   [delay unit = cycles]
    3. batch: per eligible host, top-k queued by (depth, disc_seq) —
       salted two-phase window (W1). fetch_seq = base + rank over
       (depth, disc_seq) across the whole batch; base = total prior fetches.
    4. fetch (V6): deterministic gen_page per canon_url -> status, kind,
       bytes, interleaved spans. fetched_at = BASE_TIME + t seconds.
    5. parse (V3): DC/OAI metadata + outlinks from text spans in offset
       order, each outlink canonicalized in the same Python pass.
       doc_id = canon_url.
    6. frontier update: canonical outlinks -> first-wins per canon_url
       by (parent fetch_seq, link position) -> exact anti-join against
       seen on (url_hash, canon_url) -> assign
       disc_seq = next_disc_seq counter + rank over (parent_fetch_seq,
       link_pos); depth = parent_depth + 1. Batch rows leave the frontier;
       ALL new URLs enter seen; robots-allowed new rows enter the frontier.
    7. checkpoint: frontier adds + tombstone keys, the seen delta, the
       host_state snapshot and the logs (fetch_log, documents, metadata,
       metrics) written, then the cycle manifest commits atomically
       (TableIO).

Determinism discipline: every rank/sequence derives from data columns
(depth, disc_seq, fetch_seq, link_pos) — never partition ids, never wall
clock — so local[8] and local[32] produce byte-identical fetch logs.

Serial-path discipline: at crawl-cycle sizes the cycle is bound by the
count of Spark jobs, not by data. Scalars the cycle needs (rows
scheduled, new URLs, pages parsed, spans) come from the jobs that already
run — the sequence checkpoints and an observe on the fetch — never from a
count or collect of their own.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from croawl_spark import synth, tables
from croawl_spark.functions import robots as R
from croawl_spark.functions import urls as U

from croawl_spark.operators.dedup import first_wins
from croawl_spark.operators.ranking import global_sequence, salted_topk
from croawl_spark.sources.tableio import TableIO

BASE_TIME = _dt.datetime(2024, 1, 1)


@dataclass
class CrawlConfig:
    k_per_host: int = 2          # politeness budget: fetches per host per cycle
    n_salt: int = 8              # W1 skew salt
    n_buckets: int = 64          # metrics lineage buckets: pmod(url_hash, n_buckets)
    # not read by the crawl; bench.py, __spark_entry__.py and perfbench still pass it
    m_bits: int = 1 << 15
    # the frontier is a merge table: O(new) adds + O(batch) tombstone keys
    # per cycle, resolved at read time (the Iceberg positional-delete shape;
    # a per-cycle O(frontier) rewrite would be O(corpus) at 10^10 URLs)
    frontier_compact_every: int = 8  # fold tombstones into one segment every K cycles
    shuffle_partitions: int | None = None


# ---------------------------------------------------------------------------
# vectorized stages (the Python boundaries: fused fetch+parse, robots;
# bootstrap also canonicalizes its seeds with the urls.canon pandas UDF)
# ---------------------------------------------------------------------------

_FETCH_OUT = StructType(
    [
        StructField("canon_url", StringType()),
        StructField("url_hash", LongType()),
        StructField("host", StringType()),
        StructField("depth", IntegerType()),
        StructField("disc_seq", LongType()),
        StructField("fetch_seq", LongType()),
        StructField("status", IntegerType()),
        StructField("content_kind", StringType()),
        StructField("bytes", LongType()),
        StructField("spans", ArrayType(tables.SPAN)),
    ]
)


_FETCH_PARSE_OUT = StructType(
    list(_FETCH_OUT.fields)
    + [
        StructField("dc_title", StringType()),
        StructField("dc_creator", ArrayType(StringType())),
        StructField("dc_identifier", StringType()),
        StructField("oai_endpoint", StringType()),
        StructField("outlinks", ArrayType(StringType())),
        StructField("outlinks_canon", ArrayType(StringType())),
        StructField("n_spans", IntegerType()),
        StructField("content_hash", LongType()),
    ]
)


def _content_hash(spans: list[dict]) -> int:
    """64-bit content digest over (kind, text, media_ref) in offset order —
    computed INSIDE the fused fetch+parse python stage where the spans are
    already materialized (hashing them JVM-side via to_json would
    re-serialize the whole corpus body a second time)."""
    import hashlib

    h = hashlib.blake2b(digest_size=8)
    for s in sorted(spans, key=lambda x: x["offset"]):
        h.update(
            "\x1e".join(
                [s.get("kind") or "", s.get("text") or "", s.get("media_ref") or ""]
            ).encode("utf-8")
        )
        h.update(b"\x1d")
    v = int.from_bytes(h.digest(), "big")
    return v - (1 << 64) if v >= 1 << 63 else v


def _fetch_stage(batch: DataFrame) -> DataFrame:
    """V6 fetch fused with V3 parse: one mapInPandas stage, one Arrow
    crossing. The page spans are python objects right after gen_page, so
    extraction runs on them in place — shipping spans to the JVM and a
    reassembled HTML string back to python (the unfused shape) would double
    the crossings for zero benefit. The same pass canonicalizes each
    outlink (``outlinks_canon``, index-aligned with ``outlinks``), so the
    links need no second Python stage. The standalone parse path for
    existing documents tables lives in plans/extract.py."""

    def fetch_parse(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from croawl_spark.functions.extract import extract_all
        from croawl_spark.functions.urls import canonicalize_url

        for pdf in it:
            pages = pdf["canon_url"].map(synth.gen_page)
            out = pdf[
                ["canon_url", "url_hash", "host", "depth", "disc_seq", "fetch_seq"]
            ].copy()
            out["status"] = pages.map(lambda p: p["status"]).astype("int32")
            out["content_kind"] = pages.map(lambda p: p["content_kind"])
            out["bytes"] = pages.map(lambda p: p["nbytes"]).astype("int64")
            out["spans"] = pages.map(lambda p: p["spans"])
            exs = [
                extract_all(p["spans"]) if p["status"] == 200 else None
                for p in pages
            ]
            out["dc_title"] = [e["dc_title"] if e else None for e in exs]
            out["dc_creator"] = [e["dc_creator"] if e else None for e in exs]
            out["dc_identifier"] = [e["dc_identifier"] if e else None for e in exs]
            out["oai_endpoint"] = [e["oai_endpoint"] if e else None for e in exs]
            out["outlinks"] = [e["outlinks"] if e else None for e in exs]
            out["outlinks_canon"] = [
                [canonicalize_url(u) for u in e["outlinks"]] if e else None
                for e in exs
            ]
            out["n_spans"] = pages.map(lambda p: len(p["spans"])).astype("int32")
            out["content_hash"] = pages.map(
                lambda p: _content_hash(p["spans"])
            ).astype("int64")
            yield out

    return batch.mapInPandas(fetch_parse, _FETCH_PARSE_OUT)


_HOST_ROBOTS_OUT = tables.HOST_STATE


def _robots_stage(hosts: DataFrame) -> DataFrame:
    """S4: per-host robots fetch+parse (deterministic synthetic web)."""

    def rob(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for h in pdf["host"]:
                rules, delay = R.parse_robots(synth.robots_body(h))
                rows.append((h, [(a, p) for a, p in rules], delay, None))
            yield pd.DataFrame(
                rows, columns=["host", "robots_rules", "crawl_delay", "last_fetch_cycle"]
            )

    return hosts.mapInPandas(rob, _HOST_ROBOTS_OUT)


def _robots_allowed_expr(rules: F.Column, path: F.Column) -> F.Column:
    """F6 longest-prefix predicate as pure JVM higher-order array functions
    (whole-stage codegen, zero Python in the hot path — this replaced the
    last per-row Python loop in the cycle, VERDICT r02 item #7). Semantics
    pinned to functions/robots.py:allowed, which the oracle simulator and
    hypothesis tests share: longest matching prefix wins, allow wins
    length ties, no rules / no match / unknown host -> allow."""
    matches = F.filter(rules, lambda r: path.startswith(r["path_prefix"]))
    mlen = F.array_max(F.transform(matches, lambda r: F.length(r["path_prefix"])))
    return (
        rules.isNull()
        | (F.size(matches) == 0)
        | F.exists(
            matches, lambda r: r["allow"] & (F.length(r["path_prefix"]) == mlen)
        )
    )


# ---------------------------------------------------------------------------
# cycle driver
# ---------------------------------------------------------------------------


def bootstrap(
    spark: SparkSession, seeds: "list[str] | DataFrame", io: TableIO, cfg: CrawlConfig
) -> None:
    """seeds: a list of URLs (line order = seed_seq) or a DataFrame with
    (url string, seed_seq long) for distributed seed generation."""
    if isinstance(seeds, DataFrame):
        raw = seeds
    else:
        raw = spark.createDataFrame(
            [(u, i) for i, u in enumerate(seeds)], "url string, seed_seq long"
        ).repartition(max(spark.sparkContext.defaultParallelism, 8))
    canon = (
        raw.withColumn("canon_url", U.canon("url"))
        .filter(F.col("canon_url").isNotNull())
    )
    ded = first_wins(canon, "canon_url", ["seed_seq"])
    frontier, n_seeds = global_sequence(
        ded, ["seed_seq"], "disc_seq", start=0,
        eager_input=True,  # r06: the range-boundary sample pass otherwise
        # re-runs the seed-gen mapInPandas + canon UDF + first_wins dedup
        # chain a second time (same fix as the two run_cycle call sites;
        # values unaffected)
    )
    frontier = (
        frontier.select(
            "url",
            "canon_url",
            U.url_hash("canon_url").alias("url_hash"),
            U.host_of("canon_url").alias("host"),
            F.lit(0).cast("int").alias("depth"),
            "disc_seq",
            F.lit(0).cast("int").alias("priority"),
            F.lit("queued").alias("state"),
            F.lit(0).cast("int").alias("added_cycle"),
        )
    )
    # frontier feeds 3-4 sinks below; the sequence checkpoint already holds
    # the canonicalized, deduped rows, so each sink re-runs only the
    # projection above (hash + host parse), never the canon UDF or dedup
    # seen records EVERY discovered canonical URL (robots-denied included —
    # they must never be re-processed); the frontier holds only allowed rows
    seen = frontier.select("url_hash", "canon_url", "disc_seq")
    host_state = _robots_stage(frontier.select("host").distinct()).persist()
    frontier_allowed = _filter_allowed(frontier, host_state)
    frontier_tables = io.write_merge_delta(frontier_allowed, None, "frontier", -1)
    io.write_snapshot(seen, "seen", -1)  # first segment of the append-only seen log
    io.write_snapshot(host_state, "host_state", -1)
    io.commit_cycle(
        -1,
        frontier_tables + ["seen", "host_state"],
        counters={"total_fetches": 0, "next_disc_seq": int(n_seeds)},
    )
    host_state.unpersist()


def _filter_allowed(rows: DataFrame, host_state: DataFrame) -> DataFrame:
    """Robots gate at INSERT time (F6): a URL enters the frontier only if
    its host's rules allow its path. O(new URLs) instead of re-scanning the
    whole frontier every cycle; with static robots the fetch order is
    identical (denied rows could never be scheduled anyway). Production
    note: with robots TTLs, re-validate at schedule time for expired hosts.
    """
    cols = [f.name for f in tables.FRONTIER.fields]
    return (
        rows.join(F.broadcast(host_state.select("host", "robots_rules")), "host", "left")
        .withColumn("path", U.path_of("canon_url"))
        .filter(_robots_allowed_expr(F.col("robots_rules"), F.col("path")))
        .select(*cols)
    )


def run_cycle(spark: SparkSession, io: TableIO, cycle: int, cfg: CrawlConfig) -> dict:
    """One scheduler cycle; returns counters for metrics/bench."""
    import time as _time

    _cycle_start = _time.perf_counter()
    # adds-minus-tombstones view: the dels side is O(cycles × batch),
    # so AQE resolves it as a broadcast anti-join — no frontier shuffle
    frontier = io.read_merge("frontier", cycle - 1)
    # seen is an APPEND-ONLY log (bootstrap segment + one delta per cycle):
    # at 10^10 URLs a full rewrite per cycle would be O(corpus); appends are
    # O(delta) — the Iceberg-append pattern (TableIO emulates it)
    seen = io.read_log("seen", cycle - 1)
    host_state = io.read_snapshot("host_state", cycle - 1)
    counters = io.counters()

    # due-time gate (J2 broadcast join: hosts << frontier). Robots were
    # enforced at insert time — the frontier contains only allowed rows.
    hs = F.broadcast(host_state.select("host", "crawl_delay", "last_fetch_cycle"))
    eligible = frontier.join(hs, "host", "left").filter(
        F.col("last_fetch_cycle").isNull()
        | (F.lit(cycle) >= F.col("last_fetch_cycle") + F.ceil("crawl_delay"))
    )

    # 3. salted politeness ranking (W1) + deterministic fetch_seq
    batch = salted_topk(
        eligible,
        group_col="host",
        order_cols=[F.col("depth"), F.col("disc_seq")],
        k=cfg.k_per_host,
        salt_src="url_hash",
        n_salt=cfg.n_salt,
    )
    fetch_base = int(counters.get("total_fetches", 0))
    # the sequence output is a projection of its own checkpoint, so the
    # batch is materialized once and n_sched comes with it (no count job)
    batch, n_sched = global_sequence(
        batch.select("canon_url", "url_hash", "host", "depth", "disc_seq"),
        ["depth", "disc_seq"],
        "fetch_seq",
        start=fetch_base,
        eager_input=True,  # r06: don't re-run the top-k windows for the
        # range-boundary sample pass
    )

    # 4. fetch — persist: feeds fetch_log, documents AND parse; without it
    # the synthetic fetch (at scale: the real fetch!) re-executes per sink.
    # The parsed count and span sum ride on the first job that fills the
    # cache (an observe), instead of a driver aggregate of their own.
    from pyspark.sql import Observation

    parsed_obs = Observation()
    is_ok = F.col("status") == 200
    fetched = (
        _fetch_stage(batch)
        .observe(
            parsed_obs,
            F.sum(F.when(is_ok, 1).otherwise(0)).alias("n"),
            F.sum(F.when(is_ok, F.col("n_spans")).otherwise(0)).alias("s"),
        )
        .persist()
    )
    fetched_at = F.lit(
        (BASE_TIME + _dt.timedelta(seconds=cycle)).strftime("%Y-%m-%d %H:%M:%S")
    ).cast("timestamp")
    fetch_log = fetched.select(
        F.lit(cycle).cast("int").alias("cycle"),
        "fetch_seq",
        "url_hash",
        "canon_url",
        "host",
        "status",
        "content_kind",
        fetched_at.alias("fetched_at"),
        "bytes",
    )
    documents = fetched.filter(F.col("status") == 200).select(
        F.col("canon_url").alias("doc_id"),
        "spans",
        "url_hash",
        F.lit(cycle).cast("int").alias("cycle"),
    )

    # 5. parse output (fused into the fetch stage — one Arrow crossing)
    parsed = fetched.filter(is_ok)

    # 5b. content-seen test (Mercator-style, distinct from URL-seen):
    # mirrors/aliases serving identical pages get flagged. Only a NARROW
    # projection (url_hash, fetch_seq, content_hash) rides the dedup
    # shuffle — spans stay in the documents write path; the flag lives in
    # the content_dups side table (join on url_hash within the cycle
    # partition when needed). content_seen is an O(delta) append-only log,
    # exactly like the URL seen log.
    from croawl_spark.operators.dedup import mark_content_dups

    content_narrow = parsed.select("url_hash", "fetch_seq", "content_hash")
    try:
        cs_log = io.read_log("content_seen", cycle - 1)
    except FileNotFoundError:
        cs_log = None
    content_dups, cs_delta = mark_content_dups(content_narrow, cs_log, eager=True)
    content_dups = content_dups.select(
        F.lit(cycle).cast("int").alias("cycle"),
        "url_hash", "fetch_seq", "content_hash", "is_content_dup",
    )
    metadata = parsed.select(
        F.col("canon_url").alias("doc_id"),
        "dc_title",
        "dc_creator",
        "dc_identifier",
        "oai_endpoint",
    )

    # 6. frontier update: the fetch stage canonicalized every outlink in
    # the same Python pass (outlinks_canon, index-aligned with outlinks)
    links = (
        parsed.select(
            F.col("fetch_seq").alias("parent_fetch_seq"),
            (F.col("depth") + 1).cast("int").alias("depth"),
            F.posexplode(F.arrays_zip("outlinks", "outlinks_canon")).alias(
                "link_pos", "_l"
            ),
        )
        .select(
            "parent_fetch_seq",
            "depth",
            "link_pos",
            F.col("_l.outlinks").alias("url"),
            F.col("_l.outlinks_canon").alias("canon_url"),
        )
        .filter(F.col("canon_url").isNotNull())
        .withColumn("url_hash", U.url_hash("canon_url"))
        .withColumn("host", U.host_of("canon_url"))
    )
    ded = first_wins(links, "canon_url", ["parent_fetch_seq", "link_pos"])
    new_links = ded.join(seen, ["url_hash", "canon_url"], "left_anti")

    seen_base = int(counters.get("next_disc_seq", 0))
    new_rows, n_new = global_sequence(
        new_links, ["parent_fetch_seq", "link_pos"], "disc_seq",
        start=seen_base,
        eager_input=True,  # r06: don't re-run the seen anti-join tail
        # for the range-boundary sample pass
    )
    new_rows = new_rows.select(
        "url",
        "canon_url",
        "url_hash",
        "host",
        "depth",
        "disc_seq",
        F.lit(0).cast("int").alias("priority"),
        F.lit("queued").alias("state"),
        F.lit(cycle).cast("int").alias("added_cycle"),
    )
    # seen delta: ALL newly discovered URLs (denied ones included)
    seen_delta = new_rows.select("url_hash", "canon_url", "disc_seq")

    # host_state: mark fetched hosts; add rows for newly-seen hosts
    batch_hosts = batch.select("host").distinct().withColumn("_f", F.lit(cycle))
    hs_known = host_state.join(batch_hosts, "host", "left").select(
        "host",
        "robots_rules",
        "crawl_delay",
        F.coalesce(F.col("_f"), F.col("last_fetch_cycle")).cast("int").alias("last_fetch_cycle"),
    )
    new_hosts = (
        new_rows.select("host").distinct().join(host_state.select("host"), "host", "left_anti")
    )
    host_state_next = hs_known.unionByName(_robots_stage(new_hosts)).persist()

    # frontier: remove the fetched batch, insert allowed new rows
    new_allowed = _filter_allowed(new_rows, host_state_next)

    # 7. metrics (per hash-bucket lineage) + checkpoint commit.
    # urls_scheduled/urls_parsed/spans_parsed are genuinely PER BUCKET (sum
    # across partition_id = cycle totals); every scheduled row is in
    # `fetched`, so one groupBy over it gives all three. wall_ms is the
    # cycle's wall BEFORE the table writes and the commit, repeated per
    # row — aggregate it with max(), never sum(); the committed
    # last_cycle_wall_ms counter is the full wall, taken at the commit.
    _pre_write_ms = int((_time.perf_counter() - _cycle_start) * 1000)
    metrics = (
        fetched.groupBy(
            F.pmod("url_hash", F.lit(cfg.n_buckets)).cast("int").alias("partition_id")
        )
        .agg(
            F.count(F.lit(1)).alias("urls_scheduled"),
            F.sum(F.when(is_ok, 1).otherwise(0)).alias("urls_parsed"),
            F.sum(F.when(is_ok, F.col("n_spans")).otherwise(0)).alias("spans_parsed"),
        )
        .select(
            F.lit(cycle).cast("int").alias("cycle"),
            "partition_id",
            F.col("urls_scheduled").cast("long").alias("urls_scheduled"),
            F.col("urls_parsed").cast("long").alias("urls_parsed"),
            F.col("spans_parsed").cast("long").alias("spans_parsed"),
            F.lit(_pre_write_ms).cast("long").alias("wall_ms"),
            F.concat(F.lit(f"{cycle}:"), F.col("partition_id")).alias("lineage_ref"),
        )
    )

    # r06 (guide §2.6 — overlap independent jobs): the per-cycle sink
    # writes are independent of each other (each reads already-persisted /
    # checkpointed frames and writes its own segment directory; the cycle
    # becomes visible only at the single atomic manifest commit below), so
    # they run from a thread pool — each write is a job or two of a few
    # small tasks, so at crawl-cycle sizes the pool hides per-job driver
    # latency and the tail tasks of one write back-fill cores freed by
    # another. host_state precedes frontier in one thread because
    # new_allowed builds on the persisted host_state_next (written-first =
    # materialized-once); that chain is the longest, so it starts first.
    from concurrent.futures import ThreadPoolExecutor

    sinks = [
        (fetch_log, "fetch_log"),
        (documents, "documents"),
        (metadata, "metadata"),
        (content_dups, "content_dups"),
        (cs_delta, "content_seen"),
        (metrics, "metrics"),
        (seen_delta, "seen"),
    ]

    def _writes_frontier() -> tuple[list[str], dict[str, list[int]] | None]:
        io.write_snapshot(host_state_next, "host_state", cycle)
        compact_now = (
            cfg.frontier_compact_every > 0
            and (cycle + 1) % cfg.frontier_compact_every == 0
        )
        if compact_now:
            # amortized O(frontier) rewrite (1 cycle in K): the resolved
            # view becomes the sole adds segment, the tombstone log
            # empties — both in the cycle's one atomic manifest commit
            frontier_next = frontier.join(
                batch.select("url_hash", "canon_url"),
                ["url_hash", "canon_url"],
                "left_anti",
            ).unionByName(new_allowed)
            return (
                io.write_merge_delta(frontier_next, None, "frontier", cycle),
                {"frontier__adds": [cycle], "frontier__dels": []},
            )
        # the O(delta) steady state: O(new) adds + O(batch) delete keys
        return (
            io.write_merge_delta(
                new_allowed,
                batch.select("url_hash", "canon_url"),
                "frontier",
                cycle,
            ),
            None,
        )

    with ThreadPoolExecutor(max_workers=4) as _pool:
        _f_frontier = _pool.submit(_writes_frontier)
        for f in [_pool.submit(io.write_snapshot, df, t, cycle) for df, t in sinks]:
            f.result()
        frontier_tables, replace_tables = _f_frontier.result()
    committed = [
        "fetch_log", "documents", "metadata", "metrics",
        "seen", "host_state", "content_dups", "content_seen",
    ] + frontier_tables
    # n_sched > 0 means a job has filled the fetched cache by now (the
    # fetch_log write at the latest); with no batch nothing was fetched
    parsed_n = parsed_obs.get if n_sched else {"n": 0, "s": 0}
    new_counters = {
        "total_fetches": fetch_base + n_sched,
        "next_disc_seq": seen_base + n_new,
        "last_cycle_wall_ms": int((_time.perf_counter() - _cycle_start) * 1000),
    }
    io.commit_cycle(cycle, committed, counters=new_counters, replace=replace_tables)
    if replace_tables:
        for t in replace_tables:
            io.prune_orphans(t)
    for df in (fetched, host_state_next):
        df.unpersist()
    return {"cycle": cycle, "scheduled": n_sched, "parsed": int(parsed_n["n"] or 0),
            "spans": int(parsed_n["s"] or 0)}


def run_crawl(
    spark: SparkSession,
    seeds: list[str],
    n_cycles: int,
    base_dir: str,
    cfg: CrawlConfig | None = None,
    resume: bool = False,
) -> TableIO:
    """Batch entry point (§3.1). With resume=True, continues from the last
    committed cycle in base_dir — the resumability contract."""
    cfg = cfg or CrawlConfig()
    io = TableIO(spark, base_dir)
    start = 0
    if resume:
        start = io.last_committed_cycle() + 1
    else:
        io.destroy()
        io = TableIO(spark, base_dir)
        bootstrap(spark, seeds, io, cfg)
    for t in range(start, n_cycles):
        run_cycle(spark, io, t, cfg)
    return io
