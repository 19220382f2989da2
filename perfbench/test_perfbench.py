"""The benchmark's own tests, at tiny sizes.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

TINY = {
    "crawl": {"env": {}, "seeds": 60, "warm_seeds": 20, "cycles": 2, "rounds": 1},
    "operators": {"env": {}, "sf": 0.001, "dedup_docs": 40, "dedup_copies": 3,
                  "chain_reps": 1, "pr_vertices": 300, "pr_degree": 3, "pr_iter": 8,
                  "rounds": 1},
    "ingest": {"env": {}, "batches": 3, "per_batch": 10, "warm_batches": 1,
               "compact_every": 2, "rounds": 1},
}


def test_benchmark_json_matches_metric_definitions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    assert e2e == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")


def test_generator_is_deterministic(tmp_path):
    a = gen.operator_tables(7, 0.001)
    b = gen.operator_tables(7, 0.001)
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(gen.operator_tables(8, 0.001)["lineitem"])
    assert gen.inflated_corpus(3, 20, 3).equals(gen.inflated_corpus(3, 20, 3))
    assert gen.graph_edges(3, 50, 2)[1].equals(gen.graph_edges(3, 50, 2)[1])
    pa_, pb = gen.ingest_batches(5, str(tmp_path / "a"), 3, 10), gen.ingest_batches(
        5, str(tmp_path / "b"), 3, 10)
    assert pa_ == pb and len(pa_["planted_ids"]) == 3
    for name in sorted(os.listdir(tmp_path / "a")):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()
    assert gen.crawl_seed_urls(1, 30) == gen.crawl_seed_urls(1, 30) != gen.crawl_seed_urls(2, 30)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("pbwork"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("CROAWL_DRIVER_MEM", "1g")
    from croawl_spark.session import get_spark

    s = get_spark("perfbench-test", master="local[2]", shuffle_partitions=4,
                  extra_conf={"spark.local.dir": work})
    yield s
    s.stop()


def _run(spark, tmp_path, monkeypatch, name: str, trace: bool):
    monkeypatch.setitem(workloads.SIZES, name, TINY["crawl" if "crawl" in name else name])
    wl = workloads.WORKLOADS[name](spark, str(tmp_path), 1, 0.1, trace, 1.0)
    wl.memo_path = str(tmp_path / "memo.json")
    res = wl.run()
    return wl, res


@pytest.mark.parametrize("name", ["crawl", "operators", "ingest"])
def test_every_workload_emits_every_metric(spark, tmp_path, monkeypatch, name):
    readings = {"peak_rss_mb": 100.0}
    _, res = _run(spark, tmp_path, monkeypatch, name, trace=False)
    out = metrics.report(name, res, readings, traced=False)["result"]
    assert out["correct"], res.checks
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        k: u for k, (u, _) in metrics.END_TO_END.items()}
    assert all(v["value"] > 0 for v in out["metrics"].values())

    _, res = _run(spark, tmp_path / "t", monkeypatch, name, trace=True)
    out = metrics.report(name, res, readings, traced=True)["result"]
    assert out["correct"], res.checks
    assert {k: v["unit"] for k, v in out["metrics"].items()} == metrics.PER_LAYER
    assert set(res.layers) <= set(metrics.PER_LAYER)


@pytest.mark.parametrize("name", ["crawl", "ingest"])
def test_tracing_adds_no_spark_job_and_changes_no_output(spark, tmp_path, monkeypatch, name):
    # a traced run makes an untraced, a traced and an untraced round; all
    # three must give the same outputs and run the same Spark jobs
    wl, res = _run(spark, tmp_path, monkeypatch, name, trace=True)
    assert all(c["ok"] for c in res.checks), [c for c in res.checks if not c["ok"]]
    assert sum(c["name"] == "round repeats the first round" for c in res.checks) == 3
    k = len(res.op_jobs) // 3
    assert k and res.op_jobs[:k] == res.op_jobs[k:2 * k] == res.op_jobs[2 * k:]
    assert wl.tracer.spans and all("n_jobs" in s for s in wl.tracer.spans)
