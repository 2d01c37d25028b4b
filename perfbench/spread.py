#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload nightly_rerun --seeds 1-10 [--trace 0]

For every metric: the median of its per-run values and the distance
between the first and third quartile (statistics.quantiles, n=4) as a
share of the median, next to the bound BENCHMARK.json gives it.
"""

import argparse
import json
import pathlib
import statistics
import subprocess
import sys

ROOT = pathlib.Path.cwd()


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", type=seeds)
    ap.add_argument("--trace", default=0, type=int)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values = {}
    for s in a.seeds:
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                            "--trace", str(a.trace)],
                           cwd=ROOT, capture_output=True, text=True)
        line = json.loads(p.stdout.strip().splitlines()[-1]) if p.stdout.strip() else None
        if p.returncode != 0 or not line or not line["correct"]:
            sys.exit(f"seed {s}: run failed (exit {p.returncode}): {p.stderr[-2000:]}")
        print(f"seed {s}: {json.dumps(line)}", flush=True)
        for k, v in line["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    report = {}
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        report[k] = {"median": med, "spread": (q3 - q1) / med if med else 0.0,
                     "bound": bounds.get(k), "values": vs}
        print(f"{k:36s} median {med:14.4f}  spread {report[k]['spread']:.4f}"
              f"  bound {bounds.get(k)}")
    print(json.dumps({"workload": a.workload, "metrics": report}))


if __name__ == "__main__":
    main()
