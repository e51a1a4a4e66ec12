"""Tracing overhead: traced minus untraced, per end-to-end metric.

    python3 perfbench/overhead.py --workload transcript_queries --seeds 1 2 3 --seconds 5

Runs ``perfbench/run.py`` with ``--trace 0`` and ``--trace 1`` on each
seed (alternating which goes first), reads the end-to-end values both
modes print in their ``detail`` line, and prints one JSON object: per
metric the untraced and traced medians, their difference, and the
difference as a share of the untraced median.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def _end_to_end(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()
    e2e = json.loads(out[-2])["detail"]["end_to_end"]
    return {k: v["value"] for k, v in e2e.items()}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=float, default=5)
    args = p.parse_args()
    runs = {0: [], 1: []}
    for i, seed in enumerate(args.seeds):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            runs[trace].append(_end_to_end(args.workload, seed, args.seconds, trace))
    report = {}
    for name in runs[0][0]:
        off = statistics.median(r[name] for r in runs[0])
        on = statistics.median(r[name] for r in runs[1])
        report[name] = {"untraced": off, "traced": on, "overhead": on - off,
                        "overhead_share": (on - off) / off}
    print(json.dumps({"workload": args.workload, "seeds": args.seeds, "overhead": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
