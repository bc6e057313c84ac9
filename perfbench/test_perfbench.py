#!/usr/bin/env python3
"""Tests of the benchmark itself, on tiny inputs.

    python3 -m unittest perfbench/test_perfbench.py      # from the repo root

Each workload must print every metric by name and unit and pass its own
correctness checks; a deliberately corrupted expected value must make
each workload's checks fail; the traced mode must report every per-layer
metric; and the command must refuse to run without the engine sources.
About four minutes on four cores.
"""
import json
import os
import shutil
import subprocess
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
NAMED = {
    "raster_hw2": ["stats_s", "composite_s"],
    "engine_mix": ["mix_s", "query_p50_s", "query_p60_s", "kernels_s"],
}
SHOWN = ["op_p50_s", "op_p60_s", "heap_peak_mb", "failed_frac"]


def bench(workload, *extra, cwd=ROOT):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7",
                             "--seconds", "1", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=900)


def printed(stdout):
    """metric lines: name -> (value, unit)"""
    out = {}
    for line in stdout.splitlines():
        parts = line.split()
        if len(parts) == 4 and parts[0] == "metric":
            out[parts[1]] = (float(parts[2]), parts[3])
    return out


class TinyRuns(unittest.TestCase):
    def check_run(self, workload):
        p = bench(workload, "--trace", "0", "--size", "tiny")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], p.stdout)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for v in result["metrics"].values():
            self.assertGreater(v["value"], 0)
        lines = printed(p.stdout)
        for name in list(want) + NAMED[workload] + SHOWN:
            self.assertIn(name, lines, f"{workload} does not print {name}")
        self.assertEqual(lines["failed_frac"], (0.0, "ratio"))

    def test_raster_hw2(self):
        self.check_run("raster_hw2")

    def test_engine_mix(self):
        self.check_run("engine_mix")


class CorruptedExpectations(unittest.TestCase):
    """Every check can fail: with each expected value corrupted, every
    operation of every workload must be counted as failed."""

    def check_fails(self, workload):
        p = bench(workload, "--trace", "0", "--size", "tiny", "--corrupt")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], result["attempted"])
        self.assertGreater(printed(p.stdout)["failed_frac"][0], 0)

    def test_raster_hw2(self):
        self.check_fails("raster_hw2")

    def test_engine_mix(self):
        self.check_fails("engine_mix")


class TracedRun(unittest.TestCase):
    def test_reports_every_layer_metric(self):
        p = bench("raster_hw2", "--trace", "1", "--size", "tiny")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()}, want)
        self.assertTrue(result["correct"])
        m = {k: v["value"] for k, v in result["metrics"].items()}
        for k in ("sources.decode_s", "operators.composite_pivot_s",
                  "raster.t1_stats_s", "raster.speedup_composite",
                  "exec.task_s", "sources.bytes_read"):
            self.assertGreater(m[k], 0, k)
        trace = [l.split(None, 1)[1] for l in p.stdout.splitlines()
                 if l.startswith("trace ")][0]
        with open(os.path.join(ROOT, trace)) as fh:
            doc = json.load(fh)
        names = {s["name"] for s in doc["spans"]}
        self.assertTrue({"pass", "stats", "composite", "decode", "pivot"} <= names)
        ids = {s["id"] for s in doc["spans"]}
        self.assertTrue(all(s["parent"] == 0 or s["parent"] in ids for s in doc["spans"]))


class StandAlone(unittest.TestCase):
    def test_refuses_without_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("target", "project/target",
                                                          "project/project"))
        try:
            p = bench("raster_hw2", "--trace", "0", cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
