"""Steadiness check: run each workload on several seeds and record, per
end-to-end metric, the values, their median and their spread (distance
between the first and third quartile as a share of the median), next to
the metric's bound.

    python3 perfbench/steady.py --runs 10 --out perfbench/steadiness.json [--workloads cdc_drain]

Runs one at a time, seeds 1..runs, with the run length BENCHMARK.json
sets. A metric is steady when its spread is below a third of its bound
(``setup_s`` has no spread limit, only a limit on how far its median may
move).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from stats import median, spread  # noqa: E402


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    record = {
        "host": f"{platform.machine()}, {os.cpu_count()} cpus",
        "run_seconds": spec["run_seconds"],
        "workloads": {},
    }
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for workload in args.workloads.split(","):
        values: dict[str, list[float]] = {m: [] for m in bounds}
        walls = []
        for seed in range(1, args.runs + 1):
            t = time.monotonic()
            out = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", workload,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True,
            )
            walls.append(time.monotonic() - t)
            if out.returncode != 0:
                print(out.stderr[-3000:], file=sys.stderr)
                raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
            result = json.loads(out.stdout.strip().splitlines()[-1])
            if not result["correct"]:
                raise SystemExit(f"{workload} seed {seed}: incorrect result")
            for name in bounds:
                values[name].append(result["metrics"][name]["value"])
            print(f"{workload} seed {seed}: {walls[-1]:.1f} s "
                  + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
        record["workloads"][workload] = {
            "seeds": [1, args.runs],
            "run_wall_s": {"median": median(walls), "max": max(walls)},
            "metrics": {
                name: {
                    "bound": bounds[name],
                    "median": median(v),
                    "spread": spread(v),
                    "steady": name == "setup_s" or spread(v) < bounds[name] / 3,
                    "values": v,
                }
                for name, v in values.items()
            },
        }
        for name, m in record["workloads"][workload]["metrics"].items():
            print(f"  {name}: median {m['median']:.4g} spread {m['spread']:.3f} "
                  f"(bound {m['bound']})", flush=True)
    Path(args.out).write_text(json.dumps(record, indent=2) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
