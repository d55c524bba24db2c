"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload extract_batch --seeds 1-10

Runs `perfbench/run.py` once per seed (one after another, from the
repository root), then prints for every metric its median, the distance
between the first and third quartile as a share of the median
(`statistics.quantiles(n=4)`), and that share against the metric's bound
in `BENCHMARK.json`. The per-run results, with each run's set-up breakdown and
passes (wall time, steal%, CPU seconds) from its diagnostics line, are
appended to `.perfbench/spread.jsonl`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> tuple[float, float]:
    """(median, IQR / median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    args = ap.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(".perfbench", exist_ok=True)
    runs = []
    for seed in args.seeds:
        t = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
             "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        diag, result = json.loads(lines[-2]), json.loads(lines[-1])
        runs.append(result)
        with open(os.path.join(".perfbench", "spread.jsonl"), "a") as f:
            f.write(json.dumps({
                "workload": args.workload, "seed": seed, "result": result,
                "setup": diag["setup"], "passes": diag["passes"],
                "peak_rss_mb_by_command": diag["peak_rss_mb_by_command"],
            }) + "\n")
        vals = {k: round(v["value"], 3) for k, v in result["metrics"].items()}
        print(f"seed {seed}: {time.perf_counter() - t:.0f} s, "
              f"correct={result['correct']} {vals}", flush=True)
    print(f"{'metric':20s} {'median':>12s} {'iqr/med':>8s} {'bound':>6s}")
    for name, bound in bounds.items():
        med, sp = spread([r["metrics"][name]["value"] for r in runs])
        flag = "" if name == "setup_s" or sp <= bound / 3 else "  (> bound/3)"
        print(f"{name:20s} {med:12.4f} {sp:8.4f} {bound:6.2f}{flag}")
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
