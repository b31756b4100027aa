"""Run the benchmark over several seeds and report each metric's median and
quartile spread (interquartile distance as a share of the median), next to
the bound ``BENCHMARK.json`` gives it.

    python3 perfbench/spread.py --workload ingest --seeds 1-10

Runs are sequential and untraced (the end-to-end metrics, which carry the
bounds), one fresh process each, from the checkout root.
Prints one line per metric and, last, a JSON object with every value.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]
sys.path.insert(0, ROOT)

from perfbench.stats import quartile_spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]),
                                 "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        if out.returncode or not last.startswith("{"):
            print(f"seed {seed}: exit {out.returncode}\n{out.stdout[-2000:]}{out.stderr[-2000:]}")
            return 1
        res = json.loads(last)
        print(f"seed {seed}: " + ", ".join(
            f"{k}={v['value']:.5g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    report = {}
    for k, vs in values.items():
        med = statistics.median(vs)
        spread = quartile_spread(vs) if len(vs) >= 2 and med else 0.0
        report[k] = {"median": med, "spread": spread, "bound": bounds.get(k), "values": vs}
        b = bounds.get(k)
        flag = "" if b is None else (" ok" if spread < b / 3 else " WIDE")
        print(f"{k}: median {med:.5g}, spread {spread:.4f}"
              + ("" if b is None else f" (bound {b}, a third {b / 3:.4f}){flag}"))
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
