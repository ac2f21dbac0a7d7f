"""Run-to-run spread of the benchmark's metrics over several seeds.

    python3 perfbench/spread.py --workload relational --seeds 1-10 [--trace 0]

Runs ``perfbench/run.py`` once per seed, one after another, and prints
for every metric of the final JSON lines the median and the distance
between the first and third quartile as a share of the median (the
spread the benchmark's bounds in BENCHMARK.json are judged against).
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

from summary import median, quartile_spread

HERE = Path(__file__).resolve().parent


def seeds(spec: str) -> list[int]:
    """"1-10" -> 1..10; "3,3,3" -> [3, 3, 3]."""
    if "," in spec:
        return [int(s) for s in spec.split(",")]
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    runs = []
    for seed in seeds(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        # a run with a failed op exits 1 but still prints its JSON line
        out = subprocess.run(cmd, cwd=HERE.parent, capture_output=True,
                             text=True).stdout.strip().splitlines()
        line = json.loads(out[-1])
        runs.append(line)
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in line["metrics"].items())
        steal = [s.split()[1] for s in out if s.split()[:1] == ["steal_frac_max"]]
        print(f"seed {seed}: correct={line['correct']} failed={line['failed']} {vals} "
              f"steal_frac_max={','.join(steal)}", flush=True)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        spread = quartile_spread(vals) if len(vals) >= 2 else float("nan")
        bound = bounds.get(name)
        note = "" if bound is None else f" bound={bound} ({spread / bound:.2f} of it)"
        print(f"{name:<30} median={median(vals):.6g} spread={spread:.4f}{note}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
