"""Tracing overhead: run one workload untraced and traced with the same
seeds and report how much the traced run's unit-operation median
exceeds the untraced one.

    python3 perfbench/overhead.py --workload build --seeds 1,2,3 --seconds 5

Prints one JSON object: the per-pair medians, their difference in
seconds and as a share of the untraced median, and the recorder's own
bookkeeping time.  Event-log writing is part of the difference; the
bookkeeping figure is the wrappers' share of it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def _metrics(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["build", "ingest"])
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--seconds", type=float, default=5)
    args = ap.parse_args()
    plain, traced, books = [], [], []
    for i, seed in enumerate(int(s) for s in args.seeds.split(",")):
        # alternate which side runs first so drift on the box cancels
        order = (0, 1) if i % 2 == 0 else (1, 0)
        for trace in order:
            m = _metrics(args.workload, seed, args.seconds, trace)
            if trace:
                traced.append(m["traced_op_p50_s"])
                books.append(m["trace_bookkeeping_s"])
            else:
                plain.append(m["op_p50_s"])
    p, t = statistics.median(plain), statistics.median(traced)
    print(json.dumps({
        "workload": args.workload, "pairs": len(plain),
        "untraced_op_p50_s": p, "traced_op_p50_s": t,
        "overhead_s": t - p, "overhead_ratio": (t - p) / p,
        "bookkeeping_s": statistics.median(books),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
