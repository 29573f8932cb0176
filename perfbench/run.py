"""CDC replication benchmark.

    python3 perfbench/run.py --workload cdc_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: ``cdc_bulk`` (catch-up drain of a
rotated binlog chain) and ``full_load_query`` (full-load-and-cdc task, then
a repeated query mix). ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer metrics of a traced run. The last line of
standard output is the JSON result; an environment stamp precedes it.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import (ROOT, WORK_ROOT, emit, env_stamp, make_workdir, start_session,
                    steal_ticks, stop_session)  # noqa: E402

sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))
sys.path.insert(0, os.path.join(ROOT, "tools"))

WORKLOADS = {"cdc_bulk": "bulk", "full_load_query": "fullload"}
CORES = min(4, os.cpu_count() or 1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted, unused: both workloads are a fixed amount of work")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # fail fast, before any work, when the package under test is absent
    import sample_dms_kinesis_rds_mariadb_spark  # noqa: F401
    import binlog_writer  # noqa: F401

    import layers

    work = make_workdir(args.workload)
    steal0 = steal_ticks()
    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(work, CORES)
        session_s = time.perf_counter() - t
        stamp = env_stamp(CORES, args.seed, args.workload)
        tracer = layers.install(spark) if args.trace else None
        mod = importlib.import_module(WORKLOADS[args.workload])
        res = mod.run(spark, work, args.seed, args.seconds, tracer)
        rss_py, rss_jvm = res["peak_rss_mb"]
        rss = rss_py + rss_jvm
        gen_s, preload_s = res["setup_parts"]
        steal1 = steal_ticks()
        stamp.update(
            steal_pct=100.0 * (steal1[1] - steal0[1]) / max(steal1[0] - steal0[0], 1),
            loadavg_end=os.getloadavg(), peak_rss_mb=rss,
            peak_rss_driver_mb=rss_py, peak_rss_jvm_mb=rss_jvm, session_start_s=session_s,
            generate_s=gen_s, preload_s=preload_s, wall=res["wall"],
            **res.get("notes", {}),
        )
        print(json.dumps({"env": stamp}), flush=True)
        if args.trace:
            metrics = layers.metrics(*tracer, **res["layers"])
            metrics["mem.peak_rss_mb"] = (rss, "MB")
            tracer[0].unwrap()
            tracer[1].close()
            tracer[0].dump(os.path.join(
                WORK_ROOT, f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = {
                "setup_s": (session_s + gen_s + preload_s, "s"),
                "throughput_per_cpu_s": (res["throughput_per_cpu_s"], "1/cpu-s"),
                "op_cpu_p50_ms": (res["op_cpu_p50_ms"], "ms"),
                "op_cpu_tail_ms": (res["op_cpu_tail_ms"], "ms"),
            }
        emit(res["failed"] == 0, res["attempted"], res["failed"], metrics)
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
