"""Run the benchmark once per seed and report each metric's median,
quartiles and quartile spread (Q3 - Q1, as a share of the median): the
steadiness figure that BENCHMARK.json's bounds are checked against.

    python3 perfbench/spread.py --workload kg_prose --seeds 1-10 --seconds 8

Each run's result line is appended to .perfbench/spread-<workload>.jsonl.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    ap.add_argument("--seconds", default="8")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    first, last = (int(x) for x in a.seeds.split("-"))
    log = ROOT / ".perfbench" / f"spread-{a.workload}.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in range(first, last + 1):
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
             "--seconds", a.seconds, "--trace", a.trace],
            cwd=ROOT, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, **result}) + "\n")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + ", ".join(f"{k}={v['value']:.4g}"
                                            for k, v in result["metrics"].items()), flush=True)
    if last - first < 1:
        return 0
    print(f"{'metric':<40} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}")
    for name, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name:<40} {med:>12.5g} {q1:>12.5g} {q3:>12.5g} {spread:>8.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
