"""Tracing overhead: run one workload untraced, then traced, with the same
seed, and print each end-to-end metric of both runs and their ratio.

    python3 lakebench/overhead.py --workload cow_upsert --seed 1 --seconds 18

Both runs print their end-to-end metrics as `# name = value unit` lines (the
traced run next to its per-layer JSON), so the comparison needs nothing but
those lines. One pair is one sample: on a box with ambient load, repeat it
before reading a ratio as the tracer's cost.
"""

from __future__ import annotations

import argparse
import re
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"
LINE = re.compile(r"^# (\w+) = ([-+0-9.eE]+) (\S+)$")
# the end-to-end metrics a traced run prints too (jobs and tasks per
# operation are counted only untraced: the tracer owns the job groups then)
E2E = [
    "setup_s", "write_p50_s", "key_read_p50_s", "query_p50_s", "incr_read_p50_s",
    "rows_per_s", "bytes_written_per_row", "live_bytes_per_row", "peak_rss_mb",
]


def metrics(args, trace: int) -> dict[str, tuple[float, str]]:
    cmd = [sys.executable, str(RUN), "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace), "--size", args.size]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    found = {}
    for line in out.splitlines():
        m = LINE.match(line)
        if m and m.group(1) in E2E:
            found[m.group(1)] = (float(m.group(2)), m.group(3))
    return found


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--size", default="bench")
    args = ap.parse_args()
    plain, traced = metrics(args, 0), metrics(args, 1)
    print(f"{'metric':24s} {'untraced':>12s} {'traced':>12s} {'traced/untraced':>16s}")
    for k in E2E:
        (a, unit), (b, _) = plain[k], traced[k]
        print(f"{k:24s} {a:12.4f} {b:12.4f} {b / a if a else float('nan'):16.3f}  {unit}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
