"""Run one workload on several seeds and report each end-to-end metric's
median and spread (quartile distance over median, as
``statistics.quantiles(values, n=4)`` gives the quartiles) against its bound
in BENCHMARK.json.

    python3 perfbench/steadiness.py --workload daily_batch --runs 10 --first-seed 1
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

from stats import median, spread

ROOT = Path(__file__).resolve().parent.parent


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    walls = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t = time.perf_counter()
        out = subprocess.run(
            [*spec["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=300,
        )
        walls.append(time.perf_counter() - t)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        record = ROOT / ".perfbench_out" / f"{args.workload}-s{seed}-t0.json"
        prov = json.loads(record.read_text())["provenance"]
        print(f"seed {seed}: wall {walls[-1]:.1f} s correct={result['correct']} "
              f"host_speed={prov['host_speed_before']:.0f}/{prov['host_speed_after']:.0f} "
              + " ".join(f"{k}={v['value']:.5g}" for k, v in result["metrics"].items()),
              flush=True)
        for k in values:
            values[k].append(result["metrics"][k]["value"])
    print(f"{args.workload}: {args.runs} runs, wall median {median(walls):.1f} s, "
          f"total {sum(walls):.0f} s")
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        s = spread(v) if len(v) >= 2 else 0.0
        print(f"  {m['name']:<16} median {median(v):<12.5g} spread {s:.3f} "
              f"bound {m['bound']} ({s / m['bound']:.2f} of bound)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
