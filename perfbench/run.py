#!/usr/bin/env python3
"""Runs one workload of graft's benchmark and prints its result line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source tree. The first run builds (see
build.py); every run then starts one JVM that sets up the workload's
inputs from the seed, warms up, measures for S seconds and checks every
answer. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its
per_layer list. The line before it, prefixed `perfbench-report`, holds
the workload's own metrics under their descriptive names. Traced runs
also write spans and a per-layer summary under .bench_work/out/.

Exits non-zero, without a result line, when the build, the run or an
output check of the result line's shape fails.
"""
import argparse
import json
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ["encode_roundtrip", "query_mix"]
RUN_LIMIT_S = 170


def expected_metrics(trace: int):
    spec = build.ROOT / "BENCHMARK.json"
    if not spec.is_file():
        return None
    key = "per_layer" if trace else "end_to_end"
    return {m["name"] for m in json.loads(spec.read_text())[key]}


def valid_result(line: str, trace: int) -> bool:
    try:
        r = json.loads(line)
    except ValueError:
        return False
    if not isinstance(r, dict) or set(r) != {"correct", "attempted", "failed", "metrics"}:
        return False
    want = expected_metrics(trace)
    return (isinstance(r["attempted"], int) and r["attempted"] >= 1
            and isinstance(r["failed"], int)
            and (want is None or set(r["metrics"]) == want))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()

    try:
        b = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    work = build.ROOT / ".bench_work"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = b.java("perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", str(work)])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    # never leave the JVM behind: not on a hang, not when this process is stopped
    signal.signal(signal.SIGTERM, lambda *_: proc.kill())
    timer = threading.Timer(RUN_LIMIT_S, proc.kill)
    timer.start()
    try:
        out = proc.stdout.read()
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()

    lines = out.rstrip("\n").split("\n")
    if code != 0 or not valid_result(lines[-1], a.trace):
        sys.stderr.write(out)
        print(f"perfbench: run failed (exit code {code})", file=sys.stderr)
        return 1
    print("\n".join(lines), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
