"""croawl_spark benchmark: one workload per process.

Run from the repository root:

  python3 perfbench/run.py --workload crawl_dense --seed 0 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it holds every named metric of the workload (median, tail
percentile and sample count), the output checks and the host readings.
Each run is also written under ``.perfbench_out/``. A failed output check
or a raised error sets ``correct`` to false and the exit code to 1.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import metrics  # noqa: E402
from host import HostSampler  # noqa: E402
from workloads import SIZES, WORKLOADS  # noqa: E402


def _prepare_env(workload: str, work: str) -> None:
    """Settings the engine and its Python workers read at start-up."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = work
    os.environ.setdefault("CROAWL_DRIVER_MEM", "2g")
    os.environ.update(SIZES[workload]["env"])
    sys.path.insert(0, ROOT)


def _session(work: str):
    from croawl_spark.session import get_spark

    ncpu = os.cpu_count() or 4
    return get_spark(
        "perfbench", master=f"local[{ncpu}]", shuffle_partitions=2 * ncpu,
        extra_conf={
            "spark.local.dir": work,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # keep every job and stage of the run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "croawl_spark")):
        print(f"perfbench: no croawl_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    _prepare_env(args.workload, work)

    host = HostSampler().start()
    spark = None
    try:
        spark = _session(work)
        t_session = time.perf_counter() - T_START
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.seconds,
                                      bool(args.trace), t_session)
        sizes = hashlib.sha1(json.dumps(SIZES[args.workload], sort_keys=True).encode())
        wl.memo_path = os.path.join(
            out_dir, f"outputs-{args.workload}-seed{args.seed}-{sizes.hexdigest()[:10]}.json")
        res = wl.run()
        if wl.tracer is not None:
            wl.tracer.write_jsonl(os.path.join(
                out_dir, f"spans-{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"))
    finally:
        if spark is not None:
            _stop(spark)
        readings = host.stop()
        shutil.rmtree(work, ignore_errors=True)

    report = metrics.report(args.workload, res, readings, bool(args.trace))
    report["run"] = {"workload": args.workload, "seed": args.seed,
                     "seconds": args.seconds, "trace": args.trace, "host": readings}
    with open(os.path.join(out_dir, f"run-{args.workload}-seed{args.seed}-trace{args.trace}"
                                    f"-{os.getpid()}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({k: report[k] for k in ("named", "checks_failed", "run")}))
    print(json.dumps(report["result"]))
    return 0 if report["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
