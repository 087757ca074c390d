"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py [--runs 10] [--first-seed 1] [workload ...]

Runs the benchmark once per seed on each workload (all of BENCHMARK.json's
workloads by default) and prints, per metric, the median and the distance
between the first and third quartile as a share of the median, next to
the metric's bound. A metric whose spread exceeds its bound cannot tell a
regression of that size from noise.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from bench.stats import median, quartile_spread  # noqa: E402

SPEC = json.loads(
    (Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*",
                    default=[w["name"] for w in SPEC["workloads"]])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    ok = True
    for w in a.workloads:
        values = {}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            out = subprocess.run(
                [sys.executable, str(Path(__file__).parent / "run.py"),
                 "--workload", w, "--seed", str(seed),
                 "--seconds", str(SPEC["run_seconds"]), "--trace", "0"],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            res = json.loads(out.stdout.strip().splitlines()[-1])
            ok &= out.returncode == 0 and res["correct"]
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{w} seed {seed}: exit {out.returncode} " + " ".join(
                f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()),
                flush=True)
        for name, xs in values.items():
            sp = quartile_spread(xs)
            flag = "" if sp <= bounds[name] else "  OVER BOUND"
            print(f"{w:12s} {name:14s} median {median(xs):10.4g}  "
                  f"spread {sp:6.3f}  bound {bounds[name]}{flag}", flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
