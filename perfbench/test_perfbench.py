#!/usr/bin/env python3
"""The benchmark's own test: tiny runs on the sf0.001 tables, a few
operations per workload. It checks that every metric prints with its
unit, that one seed gives one operation stream, and that a planted wrong
answer is caught (failed_frac rises, correct turns false).

    python3 perfbench/test_perfbench.py

Takes a few minutes: every run starts a JVM and a Spark session.
"""
import json
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
SPEC = json.loads((REPO / "BENCHMARK.json").read_text())
DEFS = json.loads((HERE / "metrics.json").read_text())
UNITS = {m["name"]: m["unit"] for g in ("end_to_end", "per_layer") for m in DEFS[g]}


def run(workload, seed, *extra, trace=0):
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--sf", "sf0.001", *extra],
        cwd=REPO, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"run.py exited {p.returncode}:\n{p.stderr[-4000:]}")
    contract = json.loads(p.stdout.strip().splitlines()[-1])
    out = REPO / ".bench_out" / f"{workload}-seed{seed}-trace{trace}"
    return contract, json.loads((out / "result.json").read_text()), p.stderr, out


def table(stderr):
    """metric name -> unit, from the table run.py prints."""
    rows = {}
    for line in stderr.splitlines():
        parts = line.split()
        if len(parts) >= 7 and parts[0] == "[perfbench]" and parts[1] in UNITS:
            rows[parts[1]] = parts[3]
    return rows


def stream(result):
    return [op[:3] for op in result["ops"] if op[0] in ("setup", "timed")]


class PerfbenchTest(unittest.TestCase):
    def check_printed(self, contract, result, stderr, group):
        printed = table(stderr)
        for name in result[group]:
            self.assertEqual(printed.get(name), UNITS[name], f"{name} not printed with its unit")
        for m in SPEC[group]:
            self.assertEqual(m["unit"], UNITS[m["name"]], f"{m['name']}: BENCHMARK.json unit")
            self.assertEqual(contract["metrics"][m["name"]]["unit"], m["unit"])
            self.assertIsInstance(contract["metrics"][m["name"]]["value"], (int, float))

    def check_planted(self, workload, seed, result, *extra):
        c, r, _, _ = run(workload, seed, *extra, "--plant-wrong")
        self.assertFalse(c["correct"])
        self.assertGreater(c["failed"], 0)
        self.assertGreater(r["end_to_end"]["failed_frac"]["value"], 0)
        self.assertEqual(stream(r), stream(result), "same seed, different operation stream")

    def test_docstore_mixed(self):
        c, r, err, _ = run("docstore_mixed", 101)
        self.assertTrue(c["correct"], r["failures"])
        self.assertEqual(c["failed"], 0)
        self.assertEqual(len(r["end_to_end"]), len(DEFS["end_to_end"]))
        self.check_printed(c, r, err, "end_to_end")
        self.check_planted("docstore_mixed", 101, r)

    def test_docstore_mixed_traced(self):
        c, r, err, out = run("docstore_mixed", 102, trace=1)
        self.assertTrue(c["correct"], r["failures"])
        self.assertEqual(set(r["per_layer"]), {m["name"] for m in DEFS["per_layer"]})
        self.check_printed(c, r, err, "per_layer")
        self.assertGreater(r["per_layer"]["trace.overhead"]["value"], 0)
        self.assertGreater(r["per_layer"]["exec.jobs"]["value"], 0)
        spans = [json.loads(l) for l in (out / "spans.jsonl").read_text().splitlines()]
        ids = {s["id"] for s in spans} | {"workload"}
        for s in spans:
            self.assertIn(s["parent"], ids, f"span {s['id']} has no parent span")
            self.assertLessEqual(s["start_ms"], s["end_ms"])

    def test_analytics(self):
        with tempfile.TemporaryDirectory() as d:
            none = Path(d) / "none.json"
            none.write_text("{}")
            _, r0, _, _ = run("analytics_sf0.1", 103, "--expected", str(none))
            self.assertGreater(r0["failed"], 0, "a query without an expected row count passed")
            expected = Path(d) / "expected.json"
            expected.write_text(json.dumps(
                {"queries": {name: {"rows": rows} for name, rows in r0["result_rows"]}}))
            c, r, err, _ = run("analytics_sf0.1", 103, "--expected", str(expected))
            self.assertTrue(c["correct"], r["failures"])
            self.assertEqual(stream(r), stream(r0), "same seed, different operation stream")
            self.check_printed(c, r, err, "end_to_end")
            self.check_planted("analytics_sf0.1", 103, r, "--expected", str(expected))

    def test_index_merge(self):
        c, r, err, _ = run("index_merge", 104)
        self.assertTrue(c["correct"], r["failures"])
        self.check_printed(c, r, err, "end_to_end")
        self.check_planted("index_merge", 104, r)

    def test_index_merge_traced(self):
        c, r, err, _ = run("index_merge", 105, trace=1)
        self.assertTrue(c["correct"], r["failures"])
        self.check_printed(c, r, err, "per_layer")
        for name in ("TextIndex.merge_ms", "AnnIndex.merge_ms", "SketchCbo.merge_ms",
                     "index.write_amp_b1", "index.write_amp_b16", "TextIndex.bm25_ms",
                     "AnnIndex.search_ms", "SketchCbo.plan_ms"):
            self.assertGreater(r["per_layer"][name]["n"], 0, f"{name} not measured")
            self.assertGreater(r["per_layer"][name]["value"], 0, f"{name} reads 0")


if __name__ == "__main__":
    unittest.main(verbosity=2)
