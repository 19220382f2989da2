"""Crawl-order + URL-seen equality vs the single-process oracle — the
driver's binding correctness rule (BASELINE.json north_rule)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from croawl_spark import synth
from croawl_spark.plans.cycle import CrawlConfig, run_crawl, run_cycle
from croawl_spark.sources.tableio import TableIO
from tests.oracle_sim import simulate

N_SEEDS = 100
N_CYCLES = 4
CFG = CrawlConfig(k_per_host=2, n_salt=4, n_buckets=16, m_bits=1 << 12)


def _spark_log_rows(io: TableIO):
    log = io.read_log("fetch_log")
    rows = (
        log.orderBy("fetch_seq")
        .select("cycle", "fetch_seq", "canon_url", "host", "status",
                "content_kind", "bytes")
        .collect()
    )
    return [tuple(r) for r in rows]


@pytest.fixture(scope="module")
def crawl(spark):
    seeds = synth.gen_seeds(N_SEEDS)
    with tempfile.TemporaryDirectory() as d:
        io = run_crawl(spark, seeds, N_CYCLES, f"{d}/warehouse", CFG)
        oracle_log, oracle_seen, _ = simulate(seeds, N_CYCLES, CFG.k_per_host)
        yield io, oracle_log, oracle_seen


def test_fetch_order_exact(crawl):
    io, oracle_log, _ = crawl
    got = _spark_log_rows(io)
    want = [
        (c, s, url, host, st, kind, b) for (c, s, url, host, st, kind, b) in oracle_log
    ]
    assert len(got) == len(want), f"{len(got)} vs {len(want)} fetches"
    for g, w in zip(got, want):
        assert g == w, f"first divergence: spark={g} oracle={w}"


def test_seen_membership_exact(crawl):
    io, _, oracle_seen = crawl
    seen = io.read_log("seen")
    got = {r["canon_url"]: r["disc_seq"] for r in seen.collect()}
    assert got == oracle_seen


def test_seen_has_no_hash_dupes(crawl):
    io, _, _ = crawl
    seen = io.read_log("seen")
    n = seen.count()
    assert seen.select("canon_url").distinct().count() == n
    assert seen.select("disc_seq").distinct().count() == n


def test_content_seen_tables(crawl):
    """Content-seen side tables: one content_dups row per parsed doc; the
    content_seen log holds exactly the distinct content hashes, keyed by
    their first fetch_seq (deterministic first-wins)."""
    io, _, _ = crawl
    dups = io.read_log("content_dups")
    docs = io.read_log("documents")
    assert dups.count() == docs.count()
    seen_log = io.read_log("content_seen")
    n_distinct = dups.select("content_hash").distinct().count()
    assert seen_log.count() == n_distinct
    assert seen_log.select("content_hash").distinct().count() == n_distinct
    # non-dup rows are exactly the log's first_fetch_seq rows
    firsts = {r["first_fetch_seq"] for r in seen_log.collect()}
    originals = {r["fetch_seq"] for r in dups.filter("NOT is_content_dup").collect()}
    assert firsts == originals


def test_frontier_disjoint_from_fetched(crawl):
    """invariant: no queued URL was ever fetched (U3-style audit)."""
    io, _, _ = crawl
    f = io.read_snapshot("frontier")
    log = io.read_log("fetch_log")
    assert f.join(log, "canon_url", "left_semi").count() == 0


def test_shuffle_partition_invariance(spark):
    """Same seeds, radically different shuffle parallelism => identical log."""
    seeds = synth.gen_seeds(60)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    logs = []
    try:
        for np_ in ("2", "27"):
            spark.conf.set("spark.sql.shuffle.partitions", np_)
            with tempfile.TemporaryDirectory() as d:
                io = run_crawl(spark, seeds, 3, f"{d}/w", CFG)
                logs.append(_spark_log_rows(io))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert logs[0] == logs[1]


def test_resume_equals_uninterrupted(spark):
    """Kill after cycle 1, resume, compare vs straight-through run."""
    seeds = synth.gen_seeds(60)
    with tempfile.TemporaryDirectory() as d:
        io_full = run_crawl(spark, seeds, 3, f"{d}/full", CFG)
        full = _spark_log_rows(io_full)
        io_part = run_crawl(spark, seeds, 2, f"{d}/part", CFG)
        # resume picks up after the last committed cycle
        io_res = run_crawl(spark, seeds, 3, f"{d}/part", CFG, resume=True)
        assert _spark_log_rows(io_res) == full


def test_expire_recrawl_forgets_and_requeues(spark):
    """Recrawl-TTL maintenance: URLs last-fetched > ttl cycles ago are
    compacted out of the seen log, so a rediscovered link to them passes
    the exact anti-join as new; the continued crawl stays consistent and
    deterministic across reruns."""
    from croawl_spark.plans.maintenance import expire_recrawl

    seeds = synth.gen_seeds(60)

    def run_with_expiry(d, check=False):
        io = run_crawl(spark, seeds, 3, d, CFG)
        stats = expire_recrawl(io, ttl=2)
        if check:
            # asserts at the post-expiry point, before the continuation
            assert stats["expired"] > 0
            log = io.read_log("fetch_log")
            expired = (
                log.groupBy("url_hash", "canon_url")
                .agg(F.max("cycle").alias("lc"))
                .filter("lc <= 0")  # cutoff = last(2) - ttl(2)
                .select("url_hash", "canon_url")
            )
            seen = io.read_log("seen")
            n_expired = expired.count()
            assert n_expired == stats["expired"] and n_expired > 0
            # the seen gate treats them as new: the exact anti-join passes
            # all of them
            assert (
                expired.join(seen, ["url_hash", "canon_url"], "left_anti").count()
                == n_expired
            )
        io = run_crawl(spark, seeds, 7, d, CFG, resume=True)
        return io

    with tempfile.TemporaryDirectory() as d:
        io = run_with_expiry(f"{d}/a", check=True)
        seen = io.read_log("seen")
        assert seen.select("canon_url").distinct().count() == seen.count()
        # determinism: identical rerun -> identical post-expiry fetch log
        io2 = run_with_expiry(f"{d}/b")
        assert _spark_log_rows(io2) == _spark_log_rows(io)


def test_tombstone_frontier_read_volume_is_live_not_history(spark):
    """VERDICT r03 item #5 guard: under the default tombstone frontier
    with periodic compaction, the adds volume read_merge scans stays
    O(live rows + deltas since the last compaction), never O(history):
      * every tombstone kills exactly one add, so adds - dels == resolved
        live view at all times;
      * the manifest never references more than compact_every segments of
        either side (compaction folds them in one replace-commit);
      * a never-compacting run scans strictly more adds rows for a
        byte-identical crawl (compaction is a pure read-cost optimization).
    """
    seeds = synth.gen_seeds(60)
    k = 4
    cfg_c = CrawlConfig(k_per_host=2, n_salt=4, frontier_compact_every=k)
    cfg_n = CrawlConfig(k_per_host=2, n_salt=4, frontier_compact_every=0)
    with tempfile.TemporaryDirectory() as d:
        io_c = run_crawl(spark, seeds, 10, f"{d}/c", cfg_c)
        io_n = run_crawl(spark, seeds, 10, f"{d}/n", cfg_n)
        assert _spark_log_rows(io_c) == _spark_log_rows(io_n)
        adds_c = io_c.read_log("frontier__adds").count()
        dels_c = io_c.read_log("frontier__dels").count()
        live = io_c.read_merge("frontier").count()
        assert adds_c - dels_c == live
        m = io_c.read_manifest()
        assert 0 < len(m["tables"]["frontier__adds"]) <= k
        assert len(m["tables"]["frontier__dels"]) < k
        adds_n = io_n.read_log("frontier__adds").count()
        assert adds_c < adds_n


def test_tableio_merge_semantics(spark, tmp_path):
    """Cycle-aware tombstone resolution: a delete kills only STRICTLY
    earlier adds, so re-add-after-delete and same-cycle add+delete both
    survive (the expiry-rediscovery and fetch-while-rediscovered cases);
    compaction folds everything into one segment atomically."""
    io = TableIO(spark, str(tmp_path / "w"))

    def add(rows):
        return spark.createDataFrame(rows, "k long, v string")

    def dels(ks):
        return spark.createDataFrame([(k,) for k in ks], "k long")

    io.commit_cycle(0, io.write_merge_delta(add([(1, "a"), (2, "b")]), None, "t", 0))
    io.commit_cycle(1, io.write_merge_delta(add([(3, "c")]), dels([1]), "t", 1))
    io.commit_cycle(2, io.write_merge_delta(add([(1, "a2"), (9, "z")]), dels([2, 9]), "t", 2))

    assert {tuple(r) for r in io.read_merge("t", 1).collect()} == {(2, "b"), (3, "c")}
    want = {(3, "c"), (1, "a2"), (9, "z")}
    assert {tuple(r) for r in io.read_merge("t").collect()} == want
    # read_snapshot falls back to the resolved merge view transparently
    assert {tuple(r) for r in io.read_snapshot("t").collect()} == want

    # compaction: resolved view becomes the only segment, dels empty — one
    # atomic replace-commit, then lazy orphan pruning
    resolved = io.read_merge("t")
    written = io.write_merge_delta(resolved, None, "t", 3)
    io.commit_cycle(3, written, replace={"t__adds": [3], "t__dels": []})
    io.prune_orphans("t__adds")
    io.prune_orphans("t__dels")
    assert {tuple(r) for r in io.read_merge("t").collect()} == want
    m = io.read_manifest()
    assert m["tables"]["t__adds"] == [3] and m["tables"]["t__dels"] == []
    import os

    assert os.listdir(os.path.join(io.base, "t__adds")) == ["cycle=3"]
    # deletes still compose after compaction
    io.commit_cycle(4, io.write_merge_delta(None, dels([3]), "t", 4))
    assert {tuple(r) for r in io.read_merge("t").collect()} == {(1, "a2"), (9, "z")}


def test_tombstone_frontier_equals_oracle_and_compacts(spark):
    """O(delta) frontier checkpointing must leave the fetch log AND the
    resolved frontier equal to the single-process oracle's, survive an
    interrupt+resume across a compaction boundary, and actually write only
    O(batch+new) rows on non-compact cycles."""
    seeds = synth.gen_seeds(60)
    ts = CrawlConfig(k_per_host=2, n_salt=4, n_buckets=16, m_bits=1 << 12,
                     frontier_compact_every=3)
    oracle_log, _, oracle_frontier = simulate(seeds, 5, ts.k_per_host)
    with tempfile.TemporaryDirectory() as d:
        io_ts = run_crawl(spark, seeds, 5, f"{d}/ts", ts)
        assert _spark_log_rows(io_ts) == [tuple(r) for r in oracle_log]
        got = {
            r["canon_url"]: (r["depth"], r["disc_seq"])
            for r in io_ts.read_snapshot("frontier").collect()
        }
        assert got == oracle_frontier
        # compaction fired at cycle 2 ((2+1) % 3 == 0): one adds segment
        # there, deltas after, and no tombstones older than the compaction
        m = io_ts.read_manifest()
        assert m["tables"]["frontier__adds"] == [2, 3, 4]
        assert m["tables"]["frontier__dels"] == [3, 4]
        # O(delta) write volume: cycle 3's segments hold the cycle's new
        # URLs and fetched batch only — strictly smaller than the frontier
        adds3 = spark.read.parquet(f"{d}/ts/frontier__adds/cycle=3").count()
        dels3 = spark.read.parquet(f"{d}/ts/frontier__dels/cycle=3").count()
        n_batch3 = io_ts.read_log("fetch_log").filter(F.col("cycle") == 3).count()
        assert dels3 == n_batch3
        n_frontier = io_ts.read_snapshot("frontier").count()
        assert adds3 + dels3 < n_frontier
        # resume across the compaction boundary: stop after cycle 2's
        # commit (post-compaction), resume to 5 -> identical log
        io_part = run_crawl(spark, seeds, 3, f"{d}/part", ts)
        assert io_part.read_manifest()["tables"]["frontier__adds"] == [2]
        io_res = run_crawl(spark, seeds, 5, f"{d}/part", ts, resume=True)
        assert _spark_log_rows(io_res) == _spark_log_rows(io_ts)


def test_tombstone_crash_orphans_are_replayed(spark):
    """Crash between data write and manifest commit leaves orphan
    frontier__adds/__dels segment dirs; replay must overwrite them
    idempotently and produce the uninterrupted log (the TableIO commit
    protocol's core guarantee, extended to merge tables)."""
    import os

    seeds = synth.gen_seeds(60)
    ts = CrawlConfig(k_per_host=2, n_salt=4, n_buckets=16, m_bits=1 << 12,
                     frontier_compact_every=3)
    with tempfile.TemporaryDirectory() as d:
        full = _spark_log_rows(run_crawl(spark, seeds, 4, f"{d}/full", ts))
        io = run_crawl(spark, seeds, 2, f"{d}/part", ts)
        # fake a crash mid-cycle-2: uncommitted garbage segments on disk
        for t in ("frontier__adds", "frontier__dels", "fetch_log"):
            p = os.path.join(io.base, t, "cycle=2")
            os.makedirs(p, exist_ok=True)
            spark.range(3).write.mode("overwrite").parquet(p)
        assert io.last_committed_cycle() == 1  # manifest untouched
        io_res = run_crawl(spark, seeds, 4, f"{d}/part", ts, resume=True)
        assert _spark_log_rows(io_res) == full


def test_salted_topk_equals_plain_topk(spark):
    """W1 correctness: the salted two-phase ranking must select EXACTLY the
    rows a plain per-host window would (salt defuses skew, never changes
    results)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from croawl_spark.functions import urls as U
    from croawl_spark.operators.ranking import salted_topk

    o = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    fr = o.select(
        F.concat(F.lit("http://h"), (F.col("o_custkey") % 7).cast("string"),
                 F.lit(".t/p/"), F.col("o_orderkey").cast("string")).alias("canon_url"),
        (F.col("o_orderkey") % 3).cast("int").alias("depth"),
        F.col("o_orderkey").alias("disc_seq"),
    ).withColumn("url_hash", U.url_hash("canon_url")).withColumn(
        "host", U.host_of("canon_url"))
    for k, n_salt in ((5, 1), (5, 16), (50, 8)):
        salted = salted_topk(fr, "host", [F.col("depth"), F.col("disc_seq")],
                             k=k, n_salt=n_salt)
        w = Window.partitionBy("host").orderBy("depth", "disc_seq")
        plain = (fr.withColumn("host_rank", F.row_number().over(w))
                 .filter(F.col("host_rank") <= k))
        got = sorted((r["host"], r["canon_url"], r["host_rank"])
                     for r in salted.collect())
        want = sorted((r["host"], r["canon_url"], r["host_rank"])
                      for r in plain.collect())
        assert got == want, (k, n_salt)


def test_load_seeds_preserves_file_order(spark, tmp_path):
    from croawl_spark.sources.seeds import load_seeds

    lines = [f"http://h{i % 3}.test/p/{i}" for i in range(500)]
    f = tmp_path / "seeds.txt"
    f.write_text("\n".join(lines) + "\n")
    got = {r["url"]: r["seed_seq"] for r in load_seeds(spark, str(f)).collect()}
    assert got == {u: i for i, u in enumerate(lines)}


def test_spark_submit_py_files_deployment(tmp_path):
    """north_rule deployment surface: the batch job must run under
    ``spark-submit --py-files croawl_spark.zip`` with the package shipped
    ONLY via the zip (cwd is outside the repo, so imports cannot fall
    back to the source tree) and emit per-cycle metrics."""
    import json
    import os
    import subprocess
    import zipfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zpath = tmp_path / "croawl_spark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(os.path.join(repo, "croawl_spark")):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, repo))
    seeds = tmp_path / "seeds.txt"
    seeds.write_text("\n".join(synth.gen_seeds(30)))
    out = subprocess.run(
        [
            "spark-submit", "--py-files", str(zpath),
            os.path.join(repo, "croawl_spark", "plans", "crawl_job.py"),
            "--seeds", str(seeds), "--cycles", "1", "--budget", "2",
            "--warehouse", str(tmp_path / "wh"),
        ],
        capture_output=True, text=True, timeout=420,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
        cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.splitlines() if l.startswith('{"cycle"')]
    assert len(lines) == 1
    assert json.loads(lines[0])["scheduled"] > 0


@pytest.mark.parametrize("n_rows,n_parts", [(0, 8), (3, 16), (1000, 8)])
def test_global_sequence_and_cumsum_equal_window_reference(spark, n_rows, n_parts):
    """The range-partitioned sequence and cumsum (offsets read by observe
    on the partition checkpoint) equal the single-partition window form:
    random keys and values, empty input, more partitions than rows."""
    import random

    from pyspark.sql import Window

    from croawl_spark.operators.corpus import global_cumsum
    from croawl_spark.operators.ranking import global_sequence

    rnd = random.Random(n_rows)
    keys = rnd.sample(range(10 * n_rows + 1), n_rows)
    rows = [(k, rnd.randrange(100), rnd.randrange(-5, 50)) for k in keys]
    d = spark.createDataFrame(rows, "a long, b long, v long") if rows else (
        spark.range(0).selectExpr("id AS a", "id AS b", "id AS v")
    )
    order = Window.orderBy("b", "a")

    got, n = global_sequence(d, ["b", "a"], "seq", start=7, n_parts=n_parts)
    want = d.withColumn("seq", (F.row_number().over(order) + 6).cast("long"))
    assert n == n_rows
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    got = global_cumsum(d, ["b", "a"], "v", "cum", n_parts=n_parts)
    run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = d.withColumn("cum", F.sum("v").over(run).cast("long"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_metrics_rows_equal_recount(crawl):
    """Each metrics row (one per cycle and url_hash bucket) equals a
    recount from fetch_log and documents, and every fetched bucket has a
    row."""
    io, _, _ = crawl
    nb = CFG.n_buckets
    bucket = F.pmod("url_hash", F.lit(nb)).cast("int").alias("partition_id")
    sched = io.read_log("fetch_log").groupBy("cycle", bucket).agg(
        F.count(F.lit(1)).alias("urls_scheduled")
    )
    parsed = io.read_log("documents").groupBy("cycle", bucket).agg(
        F.count(F.lit(1)).alias("urls_parsed"),
        F.sum(F.size("spans")).cast("long").alias("spans_parsed"),
    )
    want = (
        sched.join(parsed, ["cycle", "partition_id"], "left")
        .na.fill(0, ["urls_parsed", "spans_parsed"])
        .select("cycle", "partition_id", "urls_scheduled", "urls_parsed", "spans_parsed")
    )
    got = io.read_log("metrics").select(*want.columns)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_last_cycle_wall_counter_covers_metrics_wall(crawl):
    """last_cycle_wall_ms is the full cycle wall (taken at the commit, so
    it includes the table writes); metrics.wall_ms is the pre-write wall."""
    io, _, _ = crawl
    last = io.counters()["last_cycle_wall_ms"]
    walls = [
        r["wall_ms"]
        for r in io.read_log("metrics").filter(F.col("cycle") == N_CYCLES - 1).collect()
    ]
    assert walls and all(last >= w for w in walls)
    assert last > 0


def test_empty_batch_cycle_returns(spark, tmp_path):
    """Every host delay-gated: the cycle schedules nothing, returns
    scheduled == 0 (no wait on an observation that never fires), and the
    next cycle's counters are unchanged."""
    from concurrent.futures import ThreadPoolExecutor

    from croawl_spark import tables
    from croawl_spark.plans.cycle import bootstrap

    io = TableIO(spark, str(tmp_path / "w"))
    bootstrap(spark, synth.gen_seeds(30), io, CFG)
    hs = [
        (r["host"], r["robots_rules"], 50.0, 0)
        for r in io.read_snapshot("host_state").collect()
    ]
    io.write_snapshot(spark.createDataFrame(hs, tables.HOST_STATE), "host_state", 0)
    io.commit_cycle(0, ["host_state"])
    with ThreadPoolExecutor(1) as pool:
        out = pool.submit(run_cycle, spark, io, 1, CFG).result(timeout=600)
    assert (out["scheduled"], out["parsed"], out["spans"]) == (0, 0, 0)
    assert io.counters()["total_fetches"] == 0
    assert io.read_log("fetch_log").count() == 0


def test_reading_committed_segments_starts_no_job(spark, crawl):
    """Committed segments are read with their recorded schema: building
    the crawl's read frames runs no Spark job (schema inference would run
    one footer-scan job per read)."""
    io, _, _ = crawl
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    io.read_merge("frontier", N_CYCLES - 1)
    for t in ("seen", "content_seen", "fetch_log", "documents", "metadata",
              "metrics", "content_dups"):
        io.read_log(t, N_CYCLES - 1)
    io.read_snapshot("host_state", N_CYCLES - 1)
    assert set(tracker.getJobIdsForGroup(None)) == before


def test_declared_crawl_schemas_equal_inferred(spark, crawl):
    """Each crawl table's declared schema (tables.py; merge sides add
    _mseq) equals both what Spark infers from the written files and what
    TableIO reads them with."""
    import os

    from pyspark.sql.types import LongType, StructField, StructType

    from croawl_spark import tables

    io, _, _ = crawl
    mseq = [StructField("_mseq", LongType())]
    keys = [tables.FRONTIER[c] for c in ("url_hash", "canon_url")]  # delete keys
    declared = {
        "fetch_log": tables.FETCH_LOG,
        "documents": tables.DOCUMENTS,
        "metadata": tables.METADATA,
        "metrics": tables.METRICS,
        "seen": tables.SEEN,
        "host_state": tables.HOST_STATE,
        "content_seen": tables.CONTENT_SEEN,
        "content_dups": tables.CONTENT_DUPS,
        "frontier__adds": StructType(tables.FRONTIER.fields + mseq),
        "frontier__dels": StructType(keys + mseq),
    }
    for t, schema in declared.items():
        for c in io.read_manifest()["tables"][t]:
            path = os.path.join(io.base, t, f"cycle={c}")
            assert spark.read.parquet(path).schema == schema, (t, c)
        assert io.read_log(t).schema == schema, t


def test_segments_without_schema_sidecar_still_read(spark, crawl):
    """Segments written before schemas were recorded (no _schema.json)
    read by inference, alone or mixed with recorded ones, with the same
    rows and columns."""
    import os
    import shutil

    io, _, _ = crawl
    with tempfile.TemporaryDirectory() as d:
        shutil.copytree(io.base, f"{d}/w")
        old = TableIO(spark, f"{d}/w")
        cycles = old.read_manifest()["tables"]["seen"]
        for t in ("seen", "host_state", "fetch_log"):
            for c in cycles[::2]:
                sidecar = os.path.join(old.base, t, f"cycle={c}", "_schema.json")
                if os.path.exists(sidecar):
                    os.remove(sidecar)
        for t in ("seen", "fetch_log"):
            a, b = io.read_log(t), old.read_log(t)
            assert a.schema == b.schema, t
            assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
        a, b = io.read_snapshot("host_state"), old.read_snapshot("host_state")
        assert a.schema == b.schema
        assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))
