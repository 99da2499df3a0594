"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 6 --trace 0

Run from the repository root. Earlier stdout lines carry the environment
(nproc, Spark/Java/Python versions) and run details (sample counts,
tail percentile, error rate, problems found by the checks); the LAST
line is one JSON object:

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` repeats the
workload with spans and Spark job groups on and reports the per-layer
metrics instead (spans are written to .perfbench_out/). Exit status is
non-zero when any operation or check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import env  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine and its checks are imported here, so a tree without
    # the engine fails before anything is measured
    from perfbench import workloads
    from perfbench.tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")

    # a terminated run still stops its JVM and removes its temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    n_cpus = env.cpus()
    steal0, total0 = env.cpu_ticks()
    tmp = env.make_tmp(f"{args.workload}-{args.seed}")
    spark = None
    try:
        spark, session_s = env.start_session(tmp, n_cpus, ui=bool(args.trace))
        print(json.dumps({"env": env.versions(spark, n_cpus)}), flush=True)
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = workloads.Ctx(spark, tracer, tmp, args.seed, args.seconds, session_s)
        res = workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            metrics = workloads.per_layer(ctx, res)
            os.makedirs(env.OUT_DIR, exist_ok=True)
            tracer.dump(os.path.join(env.OUT_DIR, f"spans-{args.workload}-{args.seed}-{int(time.time())}.json"))
        else:
            metrics = res.metrics
    finally:
        try:
            if spark is not None:
                env.stop_session(spark)
        finally:
            env.remove_tmp(tmp)

    steal1, total1 = env.cpu_ticks()
    res.details["cpu_steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
    res.details["error_rate"] = res.failed / max(res.attempted, 1)
    res.details["problems"] = res.problems
    print(json.dumps({"details": res.details}, default=str), flush=True)
    ok = res.failed == 0 and res.attempted > 0
    print(json.dumps({
        "correct": ok,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
