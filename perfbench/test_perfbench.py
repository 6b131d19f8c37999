#!/usr/bin/env python3
"""Tests of the benchmark itself: BENCHMARK.json's shape, metric names
that agree between BENCHMARK.json and the Scala catalogue, the
tail-percentile and self-time arithmetic (perfbench.SelfTest), and the
refusal to run in a tree without graft's sources.

    python3 perfbench/test_perfbench.py
"""
import json
import re
import shutil
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
import build  # noqa: E402

SPEC = json.loads((build.ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def scala(main: str, *args: str) -> subprocess.CompletedProcess:
    b = build.build()
    return subprocess.run(b.java(main, list(args)), stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)


class SpecShape(unittest.TestCase):
    def test_keys(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        self.assertTrue(1 <= SPEC["run_seconds"] <= 60)
        self.assertTrue(all(re.fullmatch(r"[A-Za-z0-9_./-]{1,200}", p) and ".." not in p
                            for p in SPEC["paths"]))

    def test_names(self):
        names = [w["name"] for w in SPEC["workloads"]]
        names += [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        self.assertTrue(all(NAME.fullmatch(n) for n in names), names)
        self.assertEqual(len(names), len(set(names)))

    def test_workloads(self):
        self.assertTrue(2 <= len(SPEC["workloads"]) <= 8)
        for w in SPEC["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertTrue(0 < len(w["why"]) <= 200 and "\n" not in w["why"])

    def test_metrics(self):
        for m in SPEC["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in SPEC["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertTrue(UNIT.fullmatch(m["unit"]), m)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in SPEC["end_to_end"]))


class ScalaSide(unittest.TestCase):
    def test_catalogue_matches_spec(self):
        r = scala("perfbench.SelfTest", "--list-metrics")
        self.assertEqual(r.returncode, 0, r.stderr)
        listed = {"end_to_end": [], "per_layer": []}
        for line in r.stdout.split("\n"):
            if line:
                kind, name, unit = line.split()
                listed[kind].append((name, unit))
        for kind in listed:
            self.assertEqual(listed[kind], [(m["name"], m["unit"]) for m in SPEC[kind]], kind)

    def test_workloads_match_spec(self):
        import run
        self.assertTrue({w["name"] for w in SPEC["workloads"]} <= set(run.WORKLOADS))

    def test_tail_and_self_time_math(self):
        r = scala("perfbench.SelfTest")
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)


class BareTree(unittest.TestCase):
    def test_refuses_without_sources(self):
        bare = build.ROOT / ".bench_work" / "bare-tree"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        try:
            shutil.copy(build.ROOT / "BENCHMARK.json", bare)
            for p in SPEC["paths"]:
                shutil.copytree(build.ROOT / p, bare / p,
                                ignore=shutil.ignore_patterns("__pycache__"))
            r = subprocess.run([sys.executable, *SPEC["command"][1:], "--workload",
                                SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                                "--trace", "0"], cwd=bare, stdout=subprocess.PIPE,
                               stderr=subprocess.PIPE, text=True, timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout, "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
