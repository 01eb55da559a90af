"""Benchmark of the ride-hailing pipeline engine.

Run from the repository root:

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 12 --trace 0

The workloads, metrics and bounds are declared in ``BENCHMARK.json``.
Each run generates its inputs from ``--seed``, sets the engine up
several times (``setup_s`` is the median), measures for ``--seconds``,
checks every output, prints one line per metric with unit and sample
count, and ends with one JSON line: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Traced runs
also write their spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import common as c  # noqa: E402
import workloads  # noqa: E402
from engine import Engine  # noqa: E402

WORKLOADS = {
    "stream_ingest": workloads.stream_ingest,
    "table_reads": workloads.table_reads,
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)),
                    help="Spark local[N] cores (default: nproc)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # PySpark converts naive datetimes through the local zone; the
    # engine's tables are UTC.
    os.environ["TZ"] = "UTC"
    time.tzset()
    spec = c.load_spec(os.path.join(ROOT, "BENCHMARK.json"))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    engine = Engine(work, args.cpus, traced=bool(args.trace))
    steal0 = c.cpu_steal()
    try:
        with c.PeakRss() as rss:
            res = WORKLOADS[args.workload](engine, args.seed, args.seconds)
        if engine.traced:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            engine.tracer.dump(os.path.join(out, f"{args.workload}-seed{args.seed}.spans.json"))
    finally:
        engine.close()
        shutil.rmtree(work, ignore_errors=True)

    res.e2e["setup_s"] = c.median(res.setup_s)
    res.layers["session.peak_rss_mb"] = rss.peak_mb
    res.report["setup_s"] = (res.e2e["setup_s"], "s", len(res.setup_s), "median of set-ups")
    res.report["peak_rss_mb"] = (rss.peak_mb, "MB", 1, "driver Python + JVM")
    res.report["error_rate"] = (res.failed / max(res.attempted, 1), "ratio", res.attempted, "")
    steal1 = c.cpu_steal()
    res.report["cpu_steal_share"] = ((steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1), "ratio", 1,
                                     "CPU time the hypervisor gave to others, for judging outliers")
    res.layers["session.start_s"] = c.median(engine.start_s)
    res.layers["session.warmup_s"] = c.median(engine.warmup_s)
    for name, (value, unit, n, note) in res.report.items():
        print(f"{args.workload} {name} = {value:.6g} {unit} (n={n}){' ' + note if note else ''}")

    if args.trace:
        for name, value in res.e2e.items():
            res.layers[f"traced.{name}"] = value
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        for name, value in res.layers.items():
            print(f"{args.workload} {name} = {value:.6g} {units.get(name, '?')}")
    metrics = c.result_metrics(spec, res.layers if args.trace else res.e2e, bool(args.trace))
    print(json.dumps({
        # a file committed after the freshness limit fails the run too
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
