"""The four workloads. Each drives the engine only through its public
functions and returns a ``Result``: timed samples, output checks,
operation counts and, in a traced run, the per-layer metrics.

Every workload follows the same shape:
  set-up     session up, inputs generated (several times; the median
             counts), one warm-up operation;
  measure    a fixed number of rounds, more while their summed wall
             time is below ``seconds``;
  check      invariants of each output, then equality with the first
             round, with an earlier run of the same seed and, for the
             default seed, with pinned values.
A traced run makes an untraced, a traced and an untraced round;
``trace.overhead_frac`` compares the traced wall with its neighbours'.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

import gen
from spans import StageStats, Tracer

DEFAULT_SEED = 0
SETUP_REPS = 3

BATTERY_KEYS = [
    "agg_hash", "join_inner", "join_asof_emul", "win_rank", "topk",
    "dedup_exact", "dedup_minhash", "ann_cosine", "span_extract",
    "stream_window", "dedup_cluster", "dedup_incremental", "corpus_clean",
    "bm25", "pack_sequences", "join_range", "host_rank", "contamination",
    "doc_perplexity", "dedup_embed_lsh", "rep_filter", "pii_scrub",
    "doc_chunks", "join_interval", "dedup_substring", "dedup_substring_rm",
    "dedup_substring_inc", "dedup_cluster_star", "domain_mix", "corpus_report",
]
CRAWL_TABLES = [
    "fetch_log", "documents", "metadata", "content_dups", "content_seen",
    "metrics", "seen", "host_state", "frontier", "seen_filter",
]
INGEST_TABLES = ["corpus", "content_seen", "content_filter", "ingest_metrics"]

# Sizes per workload. The synthetic-web settings are read by the engine
# at import, so ``run.py`` exports them before Spark starts.
SIZES = {
    "crawl": {"env": {"CROAWL_SYNTH_HOSTS": "400", "CROAWL_SYNTH_PATHS": "20000",
                      "CROAWL_SYNTH_META_TAGS": "0"},
              "seeds": 4000, "warm_seeds": 300, "cycles": 2, "rounds": 2},
    "crawl_dense": {"env": {"CROAWL_SYNTH_HOSTS": "400", "CROAWL_SYNTH_PATHS": "20000",
                            "CROAWL_SYNTH_META_TAGS": "120"},
                    "seeds": 2000, "warm_seeds": 300, "cycles": 2, "rounds": 2},
    "operators": {"env": {}, "sf": 0.02, "dedup_docs": 1500, "dedup_copies": 6,
                  "chain_reps": 2, "pr_vertices": 20000, "pr_degree": 6, "pr_iter": 8,
                  "rounds": 1},
    "ingest": {"env": {}, "batches": 6, "per_batch": 50, "warm_batches": 2,
               "compact_every": 3, "rounds": 1},
}

# Output values for DEFAULT_SEED at the sizes above; any other seed must
# repeat its own values across every round of a run.
PINNED: dict[str, dict] = {
    "crawl_dense": {"scheduled": 4278, "parsed": 4053, "fetch_digest": 1657411457206285019},
    "operators": {"rows": {
        "agg_hash": 6, "join_inner": 5, "join_asof_emul": 20000, "win_rank": 15,
        "topk": 10, "dedup_exact": 999, "dedup_minhash": 1, "ann_cosine": 25,
        "span_extract": 1000, "stream_window": 3592, "dedup_cluster": 3000,
        "dedup_incremental": 800, "corpus_clean": 919, "bm25": 970, "pack_sequences": 1000,
        "join_range": 401, "host_rank": 97, "contamination": 972, "doc_perplexity": 1000,
        "dedup_embed_lsh": 1, "rep_filter": 1000, "pii_scrub": 1000, "doc_chunks": 1392,
        "join_interval": 327, "dedup_substring": 2, "dedup_substring_rm": 1000,
        "dedup_substring_inc": 1, "dedup_cluster_star": 3000, "domain_mix": 408,
        "corpus_report": 20,
    }, "chain": {"pairs": 22572, "survivors": 1498, "survivor_digest": -5877892829409149168}},
}


@dataclass
class Result:
    samples: dict[str, list[float]] = field(default_factory=dict)
    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    checks: list[dict] = field(default_factory=list)
    outputs: dict = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    op_jobs: list[int] = field(default_factory=list)

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def check(self, name: str, ok: bool, detail=None) -> bool:
        self.checks.append({"name": name, "ok": bool(ok), "detail": detail})
        return bool(ok)


class Workload:
    """Shared run loop: set-up, rounds, failure accounting."""

    name = ""

    def __init__(self, spark, work_dir: str, seed: int, seconds: float, trace: bool,
                 t_process: float):
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work_dir
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.size = SIZES[self.name]
        self.res = Result()
        self.t_process = t_process  # session-up time, counted into setup_s
        self.tracer: Tracer | None = None
        self._n_dirs = 0
        self.memo_path: str | None = None  # outputs of an earlier run, same seed

    def fresh_dir(self, tag: str) -> str:
        self._n_dirs += 1
        d = os.path.join(self.work, f"{tag}{self._n_dirs}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def op(self, fn, *args, n_ops: int = 1):
        """Run one operation (or a group of ``n_ops``); an error counts as
        failed and is printed, never raised past the workload."""
        self.res.attempted += n_ops
        try:
            return fn(*args)
        except Exception:
            traceback.print_exc()
            self.res.failed += n_ops
            return None

    def fail_checks(self, n_ops: int, *oks: bool) -> None:
        if not all(oks):
            self.res.failed += n_ops

    # -- hooks -------------------------------------------------------------
    def gen_inputs(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def round(self) -> float:
        """One measured round; returns its timed wall seconds."""
        raise NotImplementedError

    def install_spans(self, tracer: Tracer) -> None:
        raise NotImplementedError

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        raise NotImplementedError

    # -- run loop ----------------------------------------------------------
    def run(self) -> Result:
        gen_s = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            self.gen_inputs()
            gen_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        self.warm_up()
        warm_s = time.perf_counter() - t
        self.res.setup_s = self.t_process + statistics.median(gen_s) + warm_s
        self.res.outputs["setup_parts_s"] = {
            "session": self.t_process, "gen_median": statistics.median(gen_s),
            "gen_all": gen_s, "warm_up": warm_s}

        if self.trace:
            # untraced, traced, untraced: the traced round is compared with
            # the mean of its neighbours, so a warming trend cancels
            t_before = self.round()
            self.tracer = Tracer(self.spark, f"{self.name}-{self.seed}")
            self.install_spans(self.tracer)
            try:
                t_traced = self.round()
            finally:
                self.tracer.unpatch_all()
            t_after = self.round()
            self.tracer.annotate_stages()
            self.res.layers = self.layer_metrics(self.tracer)
            self.res.layers["trace.overhead_frac"] = 2 * t_traced / (t_before + t_after) - 1
            return self.res
        # a fixed number of rounds keeps the work of every run the same;
        # ``seconds`` only extends a run whose rounds finish early
        spent, rounds = 0.0, 0
        while rounds < self.size["rounds"] or spent < self.seconds:
            spent += self.round()
            rounds += 1
        return self.res

    def check_repeats(self, out: dict) -> list[bool]:
        """``out`` must equal the first round's, the values pinned for the
        default seed, and what an earlier run recorded for this seed."""
        r = self.res
        first = r.outputs.setdefault("first_round", out)
        ok = [r.check("round repeats the first round", first == out, out)]
        want = PINNED.get(self.name) if self.seed == DEFAULT_SEED else None
        if want is not None:
            ok.append(r.check("pinned default-seed output", want == out,
                              {"got": out, "want": want}))
        if self.memo_path:
            if os.path.exists(self.memo_path):
                with open(self.memo_path) as f:
                    want = json.load(f)
                ok.append(r.check("repeats an earlier run of this seed", want == out,
                                  {"got": out, "want": want}))
            elif all(ok):
                with open(self.memo_path, "w") as f:
                    json.dump(out, f)
        return ok

    def jobs_in(self, t0: float, t1: float) -> int:
        return len(StageStats(self.sc).jobs_between(t0, t1))


# ---------------------------------------------------------------------------
# helpers over spans
# ---------------------------------------------------------------------------

def _by_name(spans: list[dict], name: str) -> list[dict]:
    return [s for s in spans if s["name"] == name]


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _med(xs, default=0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _descendants(spans: list[dict], root: int) -> list[dict]:
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k["id"])
    return out


def _inclusive(spans: list[dict], s: dict, key: str) -> float:
    return s.get(key, 0) + sum(d.get(key, 0) for d in _descendants(spans, s["id"]))


def _write_layers(spans: list[dict], op_name: str) -> dict[str, float]:
    """tableio.* metrics over the ops named ``op_name``. A write made
    inside another tableio call (the adds and deletes of a merge delta,
    the rewrite of a compaction) counts as part of that call."""
    tio = {s["id"] for s in spans if s["name"].startswith("tableio.")}
    per_table: dict[str, list[float]] = {}
    overlaps, written = [], []
    for op in _by_name(spans, op_name):
        ws = [d for d in _descendants(spans, op["id"])
              if d["name"].startswith("tableio.write.") and d["parent"] not in tio]
        for w in ws:
            per_table.setdefault(w["name"], []).append(_dur(w))
        if ws:
            busy = sum(_dur(w) for w in ws)
            overlaps.append(busy / max(_union_len([(w["start"], w["end"]) for w in ws]), 1e-9))
            written.append(sum(_inclusive(spans, w, "output_bytes") for w in ws))
    out = {f"tableio.write_s.{t}": _med(per_table.get(f"tableio.write.{t}", []))
           for t in CRAWL_TABLES + INGEST_TABLES}
    out["tableio.write_overlap"] = _med(overlaps)
    out["tableio.bytes_written"] = _med(written)
    out["tableio.commit_s"] = _med(_dur(s) for s in _by_name(spans, "tableio.commit"))
    out["tableio.compact_s"] = _med(_dur(s) for s in _by_name(spans, "tableio.compact"))
    return out


def _spark_per_op(spans: list[dict], op_name: str) -> dict[str, float]:
    ops = _by_name(spans, op_name)
    return {
        "spark.jobs": _med(_inclusive(spans, s, "n_jobs") for s in ops),
        "spark.stages": _med(_inclusive(spans, s, "n_stages") for s in ops),
        "spark.shuffle_bytes": _med(_inclusive(spans, s, "shuffle_bytes") for s in ops),
        "spark.spill_bytes": _med(_inclusive(spans, s, "spill_bytes") for s in ops),
    }


def _patch_tableio(tracer: Tracer) -> None:
    from croawl_spark.sources.tableio import TableIO

    tracer.patch(TableIO, "write_snapshot",
                 lambda self, df, table, *a, **k: f"tableio.write.{table}")
    tracer.patch(TableIO, "write_merge_delta",
                 lambda self, adds, dels, table, *a, **k: f"tableio.write.{table}")
    tracer.patch(TableIO, "commit_cycle", "tableio.commit")
    tracer.patch(TableIO, "compact_log", "tableio.compact")


# ---------------------------------------------------------------------------
# crawl / crawl_dense
# ---------------------------------------------------------------------------

class Crawl(Workload):
    """Bootstrap plus ``cycles`` run_cycle calls per round, on a fresh
    warehouse each round, with bench.py's crawl configuration."""

    name = "crawl"

    def cfg(self):
        from croawl_spark.plans.cycle import CrawlConfig

        return CrawlConfig(k_per_host=4000, n_salt=32, n_buckets=64, m_bits=1 << 18)

    def gen_inputs(self) -> None:
        import pandas as pd

        urls = gen.crawl_seed_urls(self.seed, self.size["seeds"])
        self.seeds = self.spark.createDataFrame(
            pd.DataFrame({"url": urls, "seed_seq": range(len(urls))})
        )

    def warm_up(self) -> None:
        """Bootstrap and one cycle on a slice of the seeds: the first pass
        through each code path (JIT, codegen, worker start-up)."""
        from croawl_spark.plans import cycle
        from croawl_spark.sources.tableio import TableIO

        io = TableIO(self.spark, self.fresh_dir("warm"))
        cycle.bootstrap(self.spark, self.seeds.limit(self.size["warm_seeds"]), io, self.cfg())
        cycle.run_cycle(self.spark, io, 0, self.cfg())
        shutil.rmtree(io.base, ignore_errors=True)

    def _episode(self) -> dict:
        from croawl_spark.plans import cycle
        from croawl_spark.sources.tableio import TableIO

        cfg = self.cfg()
        io = TableIO(self.spark, self.fresh_dir("wh"))
        t0 = time.perf_counter()
        cycle.bootstrap(self.spark, self.seeds, io, cfg)
        boot = time.perf_counter() - t0
        cycles = []
        for c in range(self.size["cycles"]):
            w0 = time.time()
            t0 = time.perf_counter()
            m = cycle.run_cycle(self.spark, io, c, cfg)
            wall = time.perf_counter() - t0
            cycles.append({"wall": wall, "sched": m["scheduled"], "parsed": m["parsed"],
                           "jobs": self.jobs_in(w0, time.time())})
        return {"io": io, "boot": boot, "cycles": cycles}

    def _check_episode(self, io, cycles) -> dict:
        from pyspark.sql import functions as F

        fl = io.read_log("fetch_log").agg(
            F.count(F.lit(1)).alias("n"),
            F.min("fetch_seq").alias("lo"),
            F.max("fetch_seq").alias("hi"),
            F.countDistinct("fetch_seq").alias("nd"),
            F.bit_xor(F.xxhash64("fetch_seq", "canon_url")).alias("digest"),
        ).collect()[0]
        self.sample_urls = [r[0] for r in io.read_log("fetch_log").orderBy("fetch_seq")
                            .select("canon_url").limit(300).collect()]
        seen = io.read_log("seen").agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("canon_url").alias("nd")
        ).collect()[0]
        out = {
            "scheduled": sum(c["sched"] for c in cycles),
            "parsed": sum(c["parsed"] for c in cycles),
            "fetch_digest": int(fl["digest"]),
        }
        r = self.res
        ok = [
            r.check("fetch_seq dense from 0",
                    fl["lo"] == 0 and fl["hi"] == fl["n"] - 1 and fl["nd"] == fl["n"],
                    [fl["lo"], fl["hi"], fl["n"], fl["nd"]]),
            r.check("canon_url unique in seen", seen["n"] == seen["nd"], [seen["n"], seen["nd"]]),
            r.check("fetch_log rows == scheduled", fl["n"] == out["scheduled"],
                    [fl["n"], out["scheduled"]]),
        ]
        ok += self.check_repeats(out)
        self.fail_checks(len(cycles), *ok)
        return out

    def round(self) -> float:
        n = self.size["cycles"]
        ep = self.op(self._episode, n_ops=n)
        if ep is None:
            return self.seconds  # a failed round ends the window
        r, cs = self.res, ep["cycles"]
        r.add("bootstrap_s", ep["boot"])
        for c in cs:
            r.add("cycle_s", c["wall"])
            r.op_jobs.append(c["jobs"])
        r.add("urls_per_s", sum(c["sched"] + c["parsed"] for c in cs) / sum(c["wall"] for c in cs))
        self.op(self._check_episode, ep["io"], cs, n_ops=0)
        shutil.rmtree(ep["io"].base, ignore_errors=True)
        return ep["boot"] + sum(c["wall"] for c in cs)

    def install_spans(self, tracer: Tracer) -> None:
        from croawl_spark.operators import dedup
        from croawl_spark.plans import cycle

        tracer.patch(cycle, "run_cycle", "cycle.run_cycle", hint=True)
        tracer.patch(cycle, "bootstrap", "cycle.bootstrap", hint=True)
        # run_cycle names global_sequence in its own module namespace
        tracer.patch(cycle, "global_sequence",
                     lambda df, order, seq_name, *a, **k: f"ranking.{seq_name}")
        # ... and imports mark_content_dups from the dedup module per call
        tracer.patch(dedup, "mark_content_dups", "dedup.content_seen")
        _patch_tableio(tracer)

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        sp = tracer.spans
        cyc = _by_name(sp, "cycle.run_cycle")
        in_cycle = {d["id"] for c in cyc for d in _descendants(sp, c["id"])}

        def seq(name):
            ss = [s for s in _by_name(sp, name) if s["id"] in in_cycle]
            return (_med(_dur(s) for s in ss), _med(s["shuffle_bytes"] for s in ss))

        out: dict[str, float] = {}
        out["ranking.fetch_seq_s"], out["ranking.fetch_seq_shuffle_bytes"] = seq("ranking.fetch_seq")
        out["ranking.disc_seq_s"], out["ranking.disc_seq_shuffle_bytes"] = seq("ranking.disc_seq")
        out["dedup.content_seen_s"] = _med(_dur(s) for s in _by_name(sp, "dedup.content_seen"))
        selfs = []
        for c in cyc:
            # self time: the cycle's interval not covered by its child spans
            # (the pool's table writes run side by side, so take their union)
            kids = [(d["start"], d["end"]) for d in _descendants(sp, c["id"])]
            selfs.append(_dur(c) - _union_len(kids))
        out["cycle.self_s"] = _med(selfs)
        out["cycle.bootstrap_s"] = _med(_dur(s) for s in _by_name(sp, "cycle.bootstrap"))
        out.update(_write_layers(sp, "cycle.run_cycle"))
        out.update(_spark_per_op(sp, "cycle.run_cycle"))
        out.update(self._driver_timings())
        return out

    def _driver_timings(self) -> dict[str, float]:
        """Single-thread driver timings on a fixed sample of this run's own
        fetched URLs; gen_page is the network stand-in, kept apart from
        parse."""
        from croawl_spark import synth
        from croawl_spark.functions.extract import extract_all
        from croawl_spark.functions.urls import canonicalize_url

        canon = self.sample_urls
        pages = []
        t0 = time.perf_counter()
        for u in canon:
            pages.append(synth.gen_page(u))
        gen_us = (time.perf_counter() - t0) / len(canon) * 1e6
        html = [p for p in pages if p["status"] == 200 and p["content_kind"] == "html"]
        t0 = time.perf_counter()
        exs = [extract_all(p["spans"]) for p in html]
        ex_us = (time.perf_counter() - t0) / max(len(html), 1) * 1e6
        links = [link for e in exs for link in (e["outlinks"] or [])]
        t0 = time.perf_counter()
        for link in links:
            canonicalize_url(link)
        can_us = (time.perf_counter() - t0) / max(len(links), 1) * 1e6
        return {"synth.gen_page_us": gen_us, "extract.extract_all_us": ex_us,
                "urls.canonicalize_us": can_us}


class CrawlDense(Crawl):
    """The same crawl on tag-dense pages (120 distractor meta tags)."""

    name = "crawl_dense"


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------

class Operators(Workload):
    """Battery lane (30 headline queries, default gates) and above-gate
    lane (distributed MinHash pairs -> components -> survivors, and an
    8-round PageRank). A round is one battery pass, ``chain_reps`` dedup
    chains and one PageRank."""

    name = "operators"

    def gen_inputs(self) -> None:
        s = self.size
        self.sf_dir = os.path.join(self.work, "tables")
        gen.write_tables(gen.operator_tables(self.seed, s["sf"]), self.sf_dir)
        corpus = gen.inflated_corpus(self.seed, s["dedup_docs"], s["dedup_copies"])
        self.corpus = self.spark.createDataFrame(corpus.to_pandas()).localCheckpoint()
        self.n_corpus = corpus.num_rows
        v, e = gen.graph_edges(self.seed, s["pr_vertices"], s["pr_degree"])
        self.vertices = self.spark.createDataFrame(v.to_pandas()).localCheckpoint()
        self.edges = self.spark.createDataFrame(e.to_pandas()).localCheckpoint()

    def _battery_pass(self, n_ops: int = 1) -> dict[str, int]:
        """Every key once; each query call is ``n_ops`` operations."""
        from croawl_spark.plans.verify_queries import QUERIES

        rows: dict[str, int] = {}
        for k in BATTERY_KEYS:
            t0 = time.perf_counter()
            n = self.op(self._query, QUERIES[k], k, n_ops=n_ops)
            if n is not None:
                rows[k] = n
                self.res.add(f"q.{k}", time.perf_counter() - t0)
        return rows

    def _query(self, q, key: str) -> int:
        if self.tracer:
            with self.tracer.span(f"battery.q.{key}"):
                return q(self.spark, self.sf_dir).count()
        return q(self.spark, self.sf_dir).count()

    def _dedup_chain(self, above_gate: bool) -> dict:
        from pyspark.sql import functions as F

        from croawl_spark.operators.cluster import connected_components, keep_one_per_cluster
        from croawl_spark.operators.minhash import minhash_dedup_pairs

        gate = {"driver_local_max_sigs": 0} if above_gate else {}
        pairs = minhash_dedup_pairs(self.corpus, "doc_id", "text", threshold=0.9, **gate)
        pairs = pairs.localCheckpoint()
        n_pairs = pairs.count()
        if above_gate:
            comp = connected_components(
                self.corpus.select(F.col("doc_id").alias("id")), pairs,
                src_col="id_a", dst_col="id_b", driver_local_max_edges=0,
            ).localCheckpoint()
            comp.count()
            kept = comp.filter(F.col("id") == F.col("component")).select(
                F.col("id").alias("doc_id"))
        else:
            kept = keep_one_per_cluster(self.corpus, pairs, "doc_id")
        agg = kept.agg(F.count(F.lit(1)).alias("n"),
                       F.bit_xor(F.xxhash64("doc_id")).alias("d")).collect()[0]
        return {"pairs": n_pairs, "survivors": agg["n"], "survivor_digest": int(agg["d"])}

    def _pagerank(self) -> float:
        from pyspark.sql import functions as F

        from croawl_spark.operators.pagerank import pagerank

        pr = pagerank(self.vertices, self.edges, n_iter=self.size["pr_iter"],
                      driver_local_max_edges=0)
        return float(pr.agg(F.sum("rank")).collect()[0][0])

    def warm_up(self) -> None:
        t0 = time.perf_counter()
        self.ref_rows = self.op(self._battery_pass, 0, n_ops=0) or {}
        self.res.outputs["battery_cold_s"] = time.perf_counter() - t0
        self.res.samples.clear()
        # the gated (driver-local) chain is the reference for the above-gate one
        self.ref_chain = self.op(self._dedup_chain, False, n_ops=0)
        self.res.outputs["gated_chain"] = self.ref_chain

    def _lane_step(self, span: str, fn, *args, n_ops: int = 1):
        """One timed lane step, in its own span when tracing."""
        t0 = time.perf_counter()
        if self.tracer:
            with self.tracer.span(span):
                out = self.op(fn, *args, n_ops=n_ops)
        else:
            out = self.op(fn, *args, n_ops=n_ops)
        return out, time.perf_counter() - t0

    def round(self) -> float:
        r = self.res
        w0 = time.time()
        # the pass's query calls are its operations
        rows, t_pass = self._lane_step("op.battery_pass", self._battery_pass, n_ops=0)
        rows = rows or {}
        r.op_jobs.append(self.jobs_in(w0, time.time()))
        r.add("battery_pass_s", t_pass)
        for k in BATTERY_KEYS:
            ok = r.check(f"rows {k} repeat the cold pass",
                         k in rows and rows[k] == self.ref_rows.get(k), rows.get(k))
            if k in rows and not ok:
                r.failed += 1
        spent = t_pass

        chain = None
        for _ in range(self.size["chain_reps"]):
            chain, t_chain = self._lane_step("op.dedup_chain", self._dedup_chain, True)
            spent += t_chain
            if chain is not None:
                r.add("dedup_docs_per_s", self.n_corpus / t_chain)
                self.fail_checks(1, r.check(
                    "above-gate chain equals gated chain", chain == self.ref_chain,
                    {"above": chain, "gated": self.ref_chain}))

        mass, t_pr = self._lane_step("op.pagerank", self._pagerank)
        spent += t_pr
        if mass is not None:
            r.add("pagerank_s", t_pr)
            self.fail_checks(1, r.check("pagerank mass is 1", abs(mass - 1.0) <= 1e-9, mass))
        self.fail_checks(1, *self.check_repeats({"rows": rows, "chain": chain}))
        return spent

    def install_spans(self, tracer: Tracer) -> None:
        from croawl_spark.operators import cluster, minhash, pagerank

        # the lanes import these names from their modules at each call
        tracer.patch(minhash, "minhash_dedup_pairs", "minhash.pairs")
        tracer.patch(cluster, "connected_components", "cluster.cc")
        tracer.patch(pagerank, "pagerank", "pagerank.run")

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        sp = tracer.spans
        out: dict[str, float] = {}
        for k in BATTERY_KEYS:
            out[f"battery.q.{k}_s"] = _med(_dur(s) for s in _by_name(sp, f"battery.q.{k}"))
        out["battery.jobs"] = _med(_inclusive(sp, s, "n_jobs") for s in _by_name(sp, "op.battery_pass"))
        out["battery.cold_s"] = self.res.outputs["battery_cold_s"]
        chain = _by_name(sp, "op.dedup_chain")
        # the pairs span covers the signature pass; the pairs themselves
        # materialise at the checkpoint that follows, inside the chain op
        for pre, name in (("minhash", "minhash.pairs"), ("cluster", "cluster.cc")):
            ss = _by_name(sp, name)
            out[f"{pre}.{'pairs' if pre == 'minhash' else 'cc'}_s"] = _med(_dur(s) for s in ss)
            out[f"{pre}.jobs"] = _med(_inclusive(sp, s, "n_jobs") for s in ss)
            out[f"{pre}.shuffle_bytes"] = _med(_inclusive(sp, s, "shuffle_bytes") for s in ss)
        out["dedup.chain_jobs"] = _med(_inclusive(sp, s, "n_jobs") for s in chain)
        n_iter = self.size["pr_iter"]
        pr = _by_name(sp, "op.pagerank")
        out["pagerank.round_s"] = _med(_dur(s) for s in pr) / n_iter
        out["pagerank.jobs_per_round"] = _med(_inclusive(sp, s, "n_jobs") for s in pr) / n_iter
        out["pagerank.shuffle_bytes_per_round"] = (
            _med(_inclusive(sp, s, "shuffle_bytes") for s in pr) / n_iter)
        out["pagerank.spill_bytes"] = _med(_inclusive(sp, s, "spill_bytes") for s in pr)
        out.update(_spark_per_op(sp, "op.battery_pass"))
        return out


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

class CommitWatcher:
    """Polls a warehouse manifest and stamps each micro-batch commit (a
    new ``ingest_metrics`` segment; compaction commits add none). The
    loop is closed: the next micro-batch starts after this commit."""

    def __init__(self, manifest: str, interval_s: float = 0.002):
        import threading

        self.path = manifest
        self.interval_s = interval_s
        self.stamps: list[tuple[int, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        import json

        last_m, last_c = None, 0
        while not self._stop.is_set():
            try:
                m = os.stat(self.path).st_mtime_ns
            except FileNotFoundError:
                m = None
            if m is not None and m != last_m:
                now = time.perf_counter()
                last_m = m
                try:
                    with open(self.path) as f:
                        c = len(json.load(f)["tables"].get("ingest_metrics", []))
                except (OSError, ValueError):  # caught mid-replace: retry
                    last_m = None
                    continue
                if c > last_c:
                    self.stamps.append((c, now))
                    last_c = c
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "CommitWatcher":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Ingest(Workload):
    """stream_corpus_ingest over single-file micro-batches (availableNow,
    one file per trigger), with cross-history exact duplicates planted."""

    name = "ingest"

    def gen_inputs(self) -> None:
        s = self.size
        self.docs_dir = os.path.join(self.work, "docs")
        shutil.rmtree(self.docs_dir, ignore_errors=True)
        self.plan = gen.ingest_batches(self.seed, self.docs_dir, s["batches"], s["per_batch"])
        self.warm_dir = os.path.join(self.work, "warm_docs")
        shutil.rmtree(self.warm_dir, ignore_errors=True)
        gen.ingest_batches(self.seed + 1, self.warm_dir, s["warm_batches"], s["per_batch"])

    def warm_up(self) -> None:
        from croawl_spark.streaming.jobs import stream_corpus_ingest

        self.op(stream_corpus_ingest, self.spark, self.warm_dir, self.fresh_dir("warmwh"),
                False, 16, 1 << 15, self.size["compact_every"], n_ops=0)

    def _stream(self) -> dict:
        from pyspark.sql import functions as F

        from croawl_spark.streaming import jobs

        base = self.fresh_dir("wh")
        os.makedirs(base)
        with CommitWatcher(os.path.join(base, "_manifest.json")) as w:
            w0, t0 = time.time(), time.perf_counter()
            if self.tracer:
                with self.tracer.span("op.stream", hint=True):
                    io = jobs.stream_corpus_ingest(
                        self.spark, self.docs_dir, base, compact_every=self.size["compact_every"])
            else:
                io = jobs.stream_corpus_ingest(
                    self.spark, self.docs_dir, base, compact_every=self.size["compact_every"])
            wall = time.perf_counter() - t0
            w1 = time.time()
        marks = [t0] + [t for _, t in w.stamps]
        m = io.read_log("ingest_metrics").agg(
            F.count(F.lit(1)).alias("batches"), F.sum("n_novel").alias("novel"),
            F.sum("n_batch").alias("n_batch"), F.sum("n_maybe").alias("n_maybe"),
        ).collect()[0]
        planted = self.spark.createDataFrame([(i,) for i in self.plan["planted_ids"]], "doc_id long")
        survived = io.read_log("corpus").join(planted, "doc_id", "left_semi").count()
        return {"wall": wall, "intervals": [b - a for a, b in zip(marks, marks[1:])],
                "batches": m["batches"], "novel": m["novel"], "survived": survived,
                "maybe_frac": (m["n_maybe"] / m["n_batch"]) if m["n_batch"] else 0.0,
                "jobs": self.jobs_in(w0, w1), "base": base}

    def round(self) -> float:
        r = self.res
        n = self.size["batches"]
        st = self.op(self._stream, n_ops=n)
        if st is None:
            return self.seconds
        r.add("docs_per_s", self.plan["n_offered"] / st["wall"])
        for x in st["intervals"]:
            r.add("batch_s", x)
        r.op_jobs.append(st["jobs"])
        r.outputs["maybe_frac"] = st["maybe_frac"]
        out = {"batches": st["batches"], "novel": st["novel"]}
        ok = [
            r.check("one commit per batch", st["batches"] == n and len(st["intervals"]) == n,
                    [st["batches"], len(st["intervals"])]),
            r.check("no planted duplicate survives", st["survived"] == 0, st["survived"]),
        ]
        ok += self.check_repeats(out)
        self.fail_checks(n, *ok)
        shutil.rmtree(st["base"], ignore_errors=True)
        return st["wall"]

    def install_spans(self, tracer: Tracer) -> None:
        _patch_tableio(tracer)

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        sp = tracer.spans
        out = _write_layers(sp, "op.stream")
        out["seenfilter.maybe_frac"] = self.res.outputs["maybe_frac"]
        # per micro-batch: the stream's totals over its batch count
        n = self.size["batches"]
        out["tableio.bytes_written"] /= n
        out.update({k: v / n for k, v in _spark_per_op(sp, "op.stream").items()})
        return out


WORKLOADS = {w.name: w for w in (Crawl, CrawlDense, Operators, Ingest)}
