"""Metric definitions and the run report.

End-to-end metrics are reported by every workload, each with the
workload's own meaning (see README.md); the per-layer metrics are
reported by a traced run, 0 where the workload does not reach the layer.
"""

from __future__ import annotations

import statistics

from workloads import BATTERY_KEYS, CRAWL_TABLES, INGEST_TABLES

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "work_per_s": ("1/s", "higher"),
    "step_p50_s": ("s", "lower"),
}

# per workload: which named sample feeds work_per_s and step_p50_s
HEADLINE = {
    "crawl": ("urls_per_s", "cycle_s"),
    "crawl_dense": ("urls_per_s", "cycle_s"),
    "operators": ("dedup_docs_per_s", "battery_pass_s"),
    "ingest": ("docs_per_s", "batch_s"),
}

UNITS = {
    "urls_per_s": "1/s", "cycle_s": "s", "bootstrap_s": "s",
    "battery_pass_s": "s", "dedup_docs_per_s": "1/s", "pagerank_s": "s",
    "docs_per_s": "1/s", "batch_s": "s",
}


def _per_layer() -> dict[str, str]:
    names = {
        "ranking.fetch_seq_s": "s", "ranking.fetch_seq_shuffle_bytes": "bytes",
        "ranking.disc_seq_s": "s", "ranking.disc_seq_shuffle_bytes": "bytes",
        "dedup.content_seen_s": "s",
        "extract.extract_all_us": "us", "urls.canonicalize_us": "us",
        "synth.gen_page_us": "us",
        "cycle.self_s": "s", "cycle.bootstrap_s": "s",
    }
    for t in dict.fromkeys(CRAWL_TABLES + INGEST_TABLES):
        names[f"tableio.write_s.{t}"] = "s"
    names.update({
        "tableio.write_overlap": "ratio", "tableio.bytes_written": "bytes",
        "tableio.commit_s": "s", "tableio.compact_s": "s",
        "seenfilter.maybe_frac": "ratio",
    })
    for k in BATTERY_KEYS:
        names[f"battery.q.{k}_s"] = "s"
    names.update({
        "battery.jobs": "count", "battery.cold_s": "s",
        "minhash.pairs_s": "s", "minhash.jobs": "count", "minhash.shuffle_bytes": "bytes",
        "cluster.cc_s": "s", "cluster.jobs": "count", "cluster.shuffle_bytes": "bytes",
        "dedup.chain_jobs": "count",
        "pagerank.round_s": "s", "pagerank.jobs_per_round": "count",
        "pagerank.shuffle_bytes_per_round": "bytes", "pagerank.spill_bytes": "bytes",
        "spark.jobs": "count", "spark.stages": "count",
        "spark.shuffle_bytes": "bytes", "spark.spill_bytes": "bytes",
        "trace.overhead_frac": "ratio",
        # demoted from end-to-end: it repeats only within about a fifth
        "peak_rss_mb": "MB",
    })
    return names


PER_LAYER = _per_layer()


def tail(xs: list[float]) -> tuple[float | None, float | None]:
    """The highest of p50/p75/p90/p95/p99/p99.9 with at least ten samples
    beyond it, as (percentile, value); (None, None) below 11 samples."""
    n = len(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100) >= 10:
            q = statistics.quantiles(sorted(xs), n=1000, method="inclusive")
            return p, q[int(p * 10) - 1]
    return None, None


def summarize(xs: list[float], unit: str) -> dict:
    p, v = tail(xs)
    return {"median": statistics.median(xs) if xs else None, "tail_pct": p,
            "tail": v, "max": max(xs) if xs else None, "n": len(xs), "unit": unit}


def report(workload: str, res, host: dict, traced: bool) -> dict:
    named = {k: summarize(v, UNITS.get(k, "s")) for k, v in res.samples.items()}
    named["setup_s"] = {"median": res.setup_s, "n": 1, "unit": "s",
                        "parts": res.outputs.get("setup_parts_s")}
    named["peak_rss_mb"] = {"median": host["peak_rss_mb"], "n": 1, "unit": "MB"}
    if "battery_cold_s" in res.outputs:
        named["battery_cold_s"] = {"median": res.outputs["battery_cold_s"], "n": 1, "unit": "s"}
    failed_checks = [c for c in res.checks if not c["ok"]]
    attempted = max(res.attempted, 1)
    named["failed_frac"] = {"median": res.failed / attempted, "n": res.attempted,
                            "unit": "ratio"}
    named["spark_jobs_per_op"] = summarize([float(j) for j in res.op_jobs], "count")
    correct = res.failed == 0 and not failed_checks and res.attempted > 0

    if traced:
        layers = {**res.layers, "peak_rss_mb": host["peak_rss_mb"]}
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        work, step = HEADLINE[workload]
        values = {
            "setup_s": res.setup_s,
            "work_per_s": named.get(work, {}).get("median"),
            "step_p50_s": named.get(step, {}).get("median"),
        }
        if any(v is None for v in values.values()):
            correct = False
        metrics = {k: {"value": float(v or 0.0), "unit": END_TO_END[k][0]}
                   for k, v in values.items()}
    return {
        "named": named,
        "checks_failed": failed_checks,
        "checks_passed": len(res.checks) - len(failed_checks),
        "outputs": res.outputs,
        "result": {"correct": correct, "attempted": attempted, "failed": res.failed,
                   "metrics": metrics},
    }
