"""Tracing overhead of one workload: the traced end-to-end result minus
the untraced one, as medians over the given seeds.

    python3 perfbench/overhead.py --workload ingest --seeds 1 2 3 --seconds 6

Runs run.py once per seed and mode, alternating which mode goes first,
and prints one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
METRICS = ("latency_p50_ms", "throughput_per_s", "freshness_s")


def _metrics(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout
    m = json.loads(out.strip().splitlines()[-1])["metrics"]
    prefix = "traced." if trace else ""
    return {k: m[prefix + k]["value"] for k in METRICS}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    runs: dict[int, list[dict]] = {0: [], 1: []}
    for i, seed in enumerate(args.seeds):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            runs[trace].append(_metrics(args.workload, seed, args.seconds, trace))
    report = {}
    for k in METRICS:
        plain = statistics.median(r[k] for r in runs[0])
        traced = statistics.median(r[k] for r in runs[1])
        report[k] = {"untraced": plain, "traced": traced, "overhead": traced - plain,
                     "overhead_share": (traced - plain) / plain}
    print(json.dumps({"workload": args.workload, "seeds": args.seeds, "overhead": report}))


if __name__ == "__main__":
    main()
