#!/usr/bin/env python3
"""Runs one workload once per seed and prints, for each end-to-end
metric, the median and the spread (interquartile range over median,
from statistics.quantiles(values, n=4)) next to the metric's bound.

    python3 perfbench/spread.py --workload W --seeds 1 2 3 4 5 [--seconds S]

Used to record run-to-run spread in perfbench/README.md; a spread over a
third of its bound means the benchmark is not steady enough.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=int, nargs="+")
    ap.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    a = ap.parse_args()

    values = {m["name"]: [] for m in SPEC["end_to_end"]}
    for seed in a.seeds:
        done = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", a.workload,
                               "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if done.returncode != 0:
            print(f"seed {seed}: run failed ({done.returncode})")
            return 1
        lines = done.stdout.strip().split("\n")
        r = json.loads(lines[-1])
        host = json.loads(lines[-2].split(" ", 1)[1])["metrics"]
        print(f"seed {seed}: correct={r['correct']} "
              + " ".join(f"{k}={v['value']:.6g}" for k, v in r["metrics"].items())
              + f" | op_p50_s={host['op_p50_s']['value']:.4g}"
              + f" control_p50_s={host['control_p50_s']['value']:.4g}"
              + f" steal={host['host_steal_frac']['value']:.3f}"
              + f" kernel_encode={host['codec.kernel_encode_tok_per_s']['value']:.4g}"
              + f" op_cpu_s={host['op_cpu_s']['value']:.4g}", flush=True)
        for k, v in r["metrics"].items():
            values[k].append(v["value"])
    for m in SPEC["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"{m['name']}: median {med:.6g} {m['unit']}, spread {(q3 - q1) / med:.4f} "
              f"(bound {m['bound']}, steady below {m['bound'] / 3:.4f})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
